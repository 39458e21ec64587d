package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.cometbft.{Analytics, LogIngest, Normalize}

/** Streaming mode (SURVEY.md §2.9): the reference is batch, but its plugin
  * state machines are stateful streaming operators in disguise. This module
  * is the faithful streaming extension: file-source `readStream` over a log
  * directory → the same parse/normalize chain → stateful pairing via
  * `flatMapGroupsWithState` (the keyed-state analog of the vote-latency
  * map) and a watermarked windowed aggregation.
  *
  * Per-file metadata attach (P7) is stream-static: node metadata is read
  * once in batch from the same directory (metadata lines lead each file)
  * and broadcast-joined onto the stream.
  */
object StreamingPipeline {

  /** Streaming normalized events from a log dir. `maxFilesPerTrigger`
    * chunks the source into micro-batches (None = one batch — use for
    * closed-input parity runs, where global time order must hold across
    * the whole input; stateful operators only sort within a batch). */
  def events(spark: SparkSession, dir: String,
             maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    import spark.implicits._
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val lines = LogIngest.dispatch(reader
      .option("pathGlobFilter", "*.log")
      .text(dir)
      .select(input_file_name().as("src_file"), col("value")))
    // stream-static metadata join (P7): batch scan of the same dir, with
    // the same fail-fast checks as the batch path
    val meta = LogIngest.metadata(spark, dir)
    Normalize.normalize(lines.join(broadcast(meta), Seq("src_file")))
  }

  final case class VoteSide(height: Long, round: Long, valIdx: Long,
                            sender: String, receiver: String,
                            side: String, tsNs: Long)
  final case class ConfirmedVote(height: Long, round: Long, valIdx: Long,
                                 sender: String, receiver: String,
                                 sentNs: Option[Long], receivedNs: Long,
                                 latencyMs: Option[Long])
  final case class PairState(created: Boolean, sentNs: Option[Long])

  /** Streaming J1: keyed vote pairing with explicit state over the batch
    * analytic's tagged sides ([[graft.cometbft.Analytics.VoteLatency.sides]])
    * — the SAME overwrite-on-send machine as the batch analytic
    * ([[graft.operators.PairingJoin.confirmOnReceive]]): a send overwrites
    * the entry, every receive after the first event at its key yields a
    * confirmation against the last send (NULL sent time when the entry
    * chain began with a receive), and the reference's pointer aliasing is
    * replicated by buffering an epoch's confirmations and emitting them —
    * duplicated, all with the LAST confirming receive's ts/latency — when
    * the next send closes the epoch. Open epochs flush at the end of each
    * micro-batch invocation (per-batch approximation of the reference's
    * end-of-input flush: a later batch extending an epoch cannot retract
    * already-emitted rows). Rows are time-ordered within each micro-batch;
    * cross-batch order is arrival order (streaming reality — closed-input
    * single-batch runs match batch exactly). Ties at one timestamp process
    * sends first, as in the batch machine.
    *
    * No state timeout: a processing-time timeout makes the engine schedule
    * timeout-check batches forever, which never drains for closed-input
    * `processAllAvailable` runs. */
  def voteLatencyStream(spark: SparkSession, ev: DataFrame): Dataset[ConfirmedVote] = {
    import spark.implicits._
    val sides = Analytics.VoteLatency.sides(ev)
      .select(col("height"), col("round"), col("val_idx").as("valIdx"), col("sender"),
        col("receiver"), col("side"), col("ts_ns").as("tsNs"))
      .as[VoteSide]

    sides
      .groupByKey(v => (v.height, v.round, v.valIdx, v.sender, v.receiver))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (Long, Long, Long, String, String), rows: Iterator[VoteSide],
         state: GroupState[PairState]) => {
          var st = state.getOption.getOrElse(PairState(created = false, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[ConfirmedVote]
          val ordered = rows.toSeq.sortBy(v => (v.tsNs, if (v.side == "send") 0 else 1))
          var pending  = 0
          var lastRecv = 0L
          def flushEpoch(): Unit = {
            if (pending > 0) {
              val cv = ConfirmedVote(key._1, key._2, key._3, key._4, key._5,
                st.sentNs, lastRecv, st.sentNs.map(sv => (lastRecv - sv) / 1000000L))
              var i = 0
              while (i < pending) { out += cv; i += 1 }
              pending = 0
            }
          }
          ordered.foreach { v =>
            if (v.side == "send") {
              flushEpoch()
              st = PairState(created = true, Some(v.tsNs))
            } else if (!st.created) {
              st = PairState(created = true, None)
            } else {
              pending += 1
              lastRecv = v.tsNs
            }
          }
          flushEpoch()
          state.update(st)
          out.iterator
        })
  }

  final case class P2pSide(family: String, key: Seq[String], sender: String,
                           receiver: String, height: Long, side: String, tsNs: Long)
  final case class P2pConfirmed(msgFamily: String, sender: String, receiver: String,
                                height: Long, sentNs: Option[Long], receivedNs: Long,
                                latencyMs: Option[Long])
  final case class P2pState(nSends: Long, lastSend: Option[Long],
                            firstRecv: Option[Long], anyRecv: Boolean)

  /** Streaming J3: the either-order confirmation machine of the p2p
    * processor (`p2p-messages/processor.go:78-110`), all 8 families in one
    * stateful operator keyed by (family, type-specific key, sender,
    * receiver) over the batch analytic's tagged sides
    * ([[graft.cometbft.Analytics.P2pMessages.sides]]) — the state analysis
    * behind [[graft.operators.PairingJoin.confirmEitherOrder]] replayed as keyed
    * state: every receive with a prior send confirms against the LAST send
    * before it; a receive whose priors are only receives confirms with a
    * NULL sent time (the reference's rationalized nil-assertion panic);
    * the FIRST send confirms a pending first receive (negative latency).
    * Ties at one timestamp process sends first, as in the batch machine. */
  def p2pConfirmStream(spark: SparkSession, ev: DataFrame): Dataset[P2pConfirmed] = {
    import spark.implicits._
    val sides = Analytics.P2pMessages.sides(ev)
      .select(col("msg_family").as("family"), col("key"), col("sender"), col("receiver"),
        col("key")(0).cast("long").as("height"), col("side"), col("ts_ns").as("tsNs"))
      .as[P2pSide]

    sides
      .groupByKey(v => (v.family, v.key, v.sender, v.receiver, v.height))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (String, Seq[String], String, String, Long), rows: Iterator[P2pSide],
         state: GroupState[P2pState]) => {
          var st = state.getOption.getOrElse(P2pState(0L, None, None, anyRecv = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[P2pConfirmed]
          def confirm(sent: Option[Long], recv: Long): Unit =
            out += P2pConfirmed(key._1, key._3, key._4, key._5, sent, recv,
              sent.map(s => (recv - s) / 1000000L))
          rows.toSeq.sortBy(v => (v.tsNs, if (v.side == "send") 0 else 1)).foreach { v =>
            if (v.side == "send") {
              if (st.nSends == 0 && st.anyRecv) confirm(Some(v.tsNs), st.firstRecv.get)
              st = st.copy(nSends = st.nSends + 1, lastSend = Some(v.tsNs))
            } else {
              if (st.nSends >= 1) confirm(st.lastSend, v.tsNs)
              else if (st.anyRecv) confirm(None, v.tsNs)
              st = st.copy(anyRecv = true,
                firstRecv = st.firstRecv.orElse(Some(v.tsNs)))
            }
          }
          state.update(st)
          out.iterator
        })
  }

  final case class NlSide(rawHash: String, sender: String, receiver: String,
                          side: String, msgType: String, tsNs: Long)
  final case class NlMeasurement(rawHash: String, sender: String, receiver: String,
                                 sentNs: Long, receivedNs: Long, matchType: String,
                                 msgType: String, latencyMs: Long)
  /** Per-raw-hash matcher state: composite-key send queues, the no-peer
    * raw fallback pool, and pending receives — all for ONE hash, since the
    * stream is keyed by rawHash (the composite key embeds the hash, so
    * every queue the machine needs lives inside one group). */
  final case class NlQueues(sends: Seq[(String, String, Long, String)],
                            rawPool: Seq[(String, Long, String)],
                            recvs: Seq[(String, String, Long)])

  /** Streaming J4: the network-latency two-pass matcher
    * (`network-latency/processor.go:122-328`) as ONE stateful operator over
    * the batch analytic's tagged sides
    * ([[graft.cometbft.Analytics.NetworkLatency.sides]], a TrySend's missing
    * receiver read as ""). Keying by `rawHash` makes both passes
    * group-local — the composite key
    * (sender, receiver, rawHash) refines the group, and the raw-hash
    * fallback pool IS the group — so the sequential reference machine
    * replays directly against keyed state: a receive pops the oldest
    * composite-matching send; an out-of-order send pops the oldest pending
    * receive at its key; a receive with no composite match enters the
    * pending list permanently and tries the no-peer raw pool ONCE, at its
    * own arrival (discard-at-empty, [[graft.operators.PairingJoin.fifoAtArrival]]).
    *
    * Emits measurements (append). Unmatched accounting is an end-of-input
    * notion (`finalizeStats`) — on an open stream it lives in the state;
    * closed-input runs get it from the batch path. Divergence note, same
    * rationalization as the batch `fifoMatch`: a receive that
    * fallback-matches and would LATER be claimed by an out-of-order
    * composite send double-counts in the reference; here the fallback
    * emission already happened (append mode cannot retract), which matches
    * the reference exactly and differs from batch only in that
    * hash-shared-between-TrySend-and-direct-send corner (the batch side
    * documents the same corner). Rows are time-ordered within each
    * micro-batch; a closed single-batch run reproduces batch order. */
  def networkLatencyStream(spark: SparkSession, ev: DataFrame): Dataset[NlMeasurement] = {
    import spark.implicits._
    val sides = Analytics.NetworkLatency.sides(ev)
      .select(col("raw_hash").as("rawHash"), col("sender"),
        coalesce(col("receiver"), lit("")).as("receiver"), col("side"),
        col("msg_type").as("msgType"), col("ts_ns").as("tsNs"))
      .as[NlSide]

    sides
      .groupByKey(_.rawHash)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (hash: String, rows: Iterator[NlSide], state: GroupState[NlQueues]) => {
          var st = state.getOption.getOrElse(NlQueues(Nil, Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[NlMeasurement]
          val ordered = rows.toSeq.sortBy(v => (v.tsNs, if (v.side == "send") 0 else 1))
          def latencyMs(a: Long, b: Long): Long = math.abs(a - b) / 1000000L
          ordered.foreach {
            case NlSide(_, s, r, "send", mt, t) if r.nonEmpty => // composite send
              val pendingIdx = st.recvs.indexWhere(p => p._1 == s && p._2 == r)
              if (pendingIdx >= 0) { // out-of-order: send pops the oldest receive
                val (_, _, rt) = st.recvs(pendingIdx)
                st = st.copy(recvs = st.recvs.patch(pendingIdx, Nil, 1))
                out += NlMeasurement(hash, s, r, t, rt, "exact", mt, latencyMs(t, rt))
              } else st = st.copy(sends = st.sends :+ ((s, r, t, mt)))
            case NlSide(_, s, _, "send", mt, t) => // TrySend: no peer → raw pool
              st = st.copy(rawPool = st.rawPool :+ ((s, t, mt)))
            case NlSide(_, s, r, _, mt, t) => // receive (sender = source peer)
              val sendIdx = st.sends.indexWhere(p => p._1 == s && p._2 == r)
              if (sendIdx >= 0) { // in-order: pop the oldest composite send
                val (_, _, stime, smt) = st.sends(sendIdx)
                st = st.copy(sends = st.sends.patch(sendIdx, Nil, 1))
                out += NlMeasurement(hash, s, r, stime, t, "exact", smt, latencyMs(t, stime))
              } else {
                // pending forever (finalizeStats counts it unmatched even
                // if the fallback below matches), then the at-arrival pool
                st = st.copy(recvs = st.recvs :+ ((s, r, t)))
                st.rawPool.headOption.foreach { case (ps, pt, pmt) =>
                  st = st.copy(rawPool = st.rawPool.tail)
                  out += NlMeasurement(hash, ps, r, pt, t, "hash_fallback", pmt, latencyMs(t, pt))
                }
              }
          }
          state.update(st)
          out.iterator
        })
  }

  /** Watermarked event-time windowed aggregation: events per (type, 10 s
    * window) with a 30 s late-data watermark. */
  def eventRateStream(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact dedup (the training-data-pipeline operator in
    * streaming form): first occurrence of each content hash passes; state
    * for seen hashes is GC'd once the watermark passes their event time. */
  def dedupStream(df: DataFrame, tsCol: String, contentCol: String, watermark: String): DataFrame =
    df.withColumn("content_hash", md5(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming boilerplate detection ([[graft.operators.CorpusOps
    * .boilerplateNgrams]] in streaming form): running word n-gram
    * occurrence counts over an unbounded document stream — a plain
    * streaming aggregation whose per-gram counts live in the keyed state
    * store and merge map-side per micro-batch; Complete/Update mode
    * exposes the running counts (the top-k is the reader's ORDER BY).
    * Shingling uses the per-row HOF here: window leads are unsupported on
    * streams, and the interpreted transform only ever touches one
    * micro-batch of documents at a time — bounded by the trigger, not the
    * corpus. */
  def ngramCountStream(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(graft.functions.TextFunctions.wordShingles(
        graft.functions.TextFunctions.tokens(col(textCol)), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("occurrences"))

  /** Streaming benchmark decontamination
    * ([[graft.operators.CorpusOps.decontaminate]] in streaming form) —
    * the production shape for continuous corpus ingestion: the benchmark
    * shingle index is STATIC (eval sets change rarely; build it once in
    * batch with [[benchShingleIndex]] and persist it), the corpus
    * streams through one shingle explode, a stream-static broadcast join
    * against the index (stateless — the static side ships to executors
    * per micro-batch), and a watermarked per-document rollup. Each
    * document arrives whole in one row, so the per-doc aggregation state
    * is evicted as the watermark passes its event time — bounded by the
    * watermark horizon, never by corpus size.
    *
    * Output per document (append as the watermark closes it): the batch
    * operator's exact columns — n_ngrams, n_contaminated (distinct
    * shingles shared with the index), contam_ppm, contaminated. */
  def decontaminateStream(corpus: DataFrame, benchIndex: DataFrame,
                          idCol: String, textCol: String, tsCol: String,
                          n: Int, watermark: String,
                          normalize: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions._
    val txt = if (normalize) normalizeText(col(textCol)) else col(textCol)
    val sh = corpus
      .select(col(idCol), col(tsCol),
        array_distinct(wordShingles(tokens(txt), n)).as("shingles"))
      .withColumn("n_ngrams", size(col("shingles")).cast("long"))
      // explode_outer: zero-shingle docs keep their row (s = null joins
      // to nothing) and still emit an n_contaminated = 0 result
      .select(col(idCol), col(tsCol), col("n_ngrams"),
        explode_outer(col("shingles")).as("s"))
    val hits = sh.join(
      broadcast(benchIndex.select(col("s"), lit(1L).as("hit"))), Seq("s"), "left")
    hits
      .withWatermark(tsCol, watermark)
      .groupBy(col(idCol), col(tsCol), col("n_ngrams"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contam_ppm", ppm(col("n_contaminated"), col("n_ngrams")))
      .withColumn("contaminated", col("n_contaminated") > 0L)
      .select(col(idCol), col("n_ngrams"), col("n_contaminated"),
        col("contam_ppm"), col("contaminated"))
  }

  /** Streaming corpus curation — the continuous-ingestion form of
    * [[graft.operators.CorpusOps.curationDecisions]]: documents stream in
    * whole; the stateless gates (quality heuristics, language-ID
    * agreement) evaluate per row; the contamination gate joins the
    * static broadcast bench index ([[benchShingleIndex]]); the
    * familiarity gate scores against a STATIC bigram document-frequency
    * index trained in batch on the historical corpus
    * ([[bigramDfIndex]]) — the production shape: the LM is fixed model
    * state, the stream is scored against it.
    *
    * Both per-doc rollups ride ONE streaming aggregation: the exploded
    * 3-gram (contamination) and bigram (familiarity) units union into a
    * single kind-tagged stream, left-join one kind-tagged static lookup,
    * and aggregate once per (doc, ts) — one keyed state store, closed by
    * the watermark.
    *
    * The exact-dup gate is deliberately NOT in this query: streaming
    * canonicality is arrival-order state with its own lifecycle
    * ([[dedupStream]]), chained as its own stage in production; and
    * benchmark documents never enter the ingestion stream, so reasons
    * here run low_quality → lang_mismatch → contaminated → unfamiliar →
    * keep. */
  def curationStream(corpus: DataFrame, benchIndex: DataFrame, bigramDf: DataFrame,
                     idCol: String, textCol: String, tsCol: String, langCol: String,
                     n: Int, watermark: String,
                     minFamiliarityPpm: Long): DataFrame =
    curationStreamImpl(corpus, benchIndex, bigramDf, idCol, textCol, tsCol, langCol,
      n, Some(watermark), minFamiliarityPpm)

  /** `watermark = None` ⇒ the input stream already carries its
    * event-time watermark (the [[curationChainStream]] case: Spark 4
    * multi-stateful mode forbids redefining it downstream of another
    * stateful operator — the aggregation inherits the chain's one
    * watermark). */
  private def curationStreamImpl(corpus: DataFrame, benchIndex: DataFrame, bigramDf: DataFrame,
                                 idCol: String, textCol: String, tsCol: String, langCol: String,
                                 n: Int, watermark: Option[String],
                                 minFamiliarityPpm: Long): DataFrame = {
    import graft.functions.TextFunctions._
    val base = corpus
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("alpha_ppm",
        ppm(charClassCount(col(textCol), "[a-z]"), length(col(textCol)).cast("long")))
      .withColumn("digit_ppm",
        ppm(charClassCount(col(textCol), "[0-9]"), length(col(textCol)).cast("long")))
      .withColumn("quality_ok",
        col("alpha_ppm") >= 500000L && col("n_tokens") >= 5L && col("digit_ppm") <= 100000L)
      .withColumn("hits_en", vocabHits(col("toks"), stopwords("en")).cast("long"))
      .withColumn("hits_de", vocabHits(col("toks"), stopwords("de")).cast("long"))
      .withColumn("hits_fr", vocabHits(col("toks"), stopwords("fr")).cast("long"))
      .withColumn("hits_es", vocabHits(col("toks"), stopwords("es")).cast("long"))
      .withColumn("lang_ok",
        when(hasCjk(col(textCol)), "zh")
          .when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") &&
            col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
          .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es") &&
            col("hits_de") > 0, "de")
          .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
          .when(col("hits_es") > 0, "es")
          .otherwise("unknown") === col(langCol))
    val keys = Seq(col(idCol), col(tsCol), col("n_tokens"), col("quality_ok"), col("lang_ok"))
    // kind 3 = distinct contamination shingles; kind 2 = bigram INSTANCES
    // (the multiset the familiarity mean weights); explode_outer keeps
    // zero-n-gram docs alive on both branches
    val sh3 = base.select(keys :+
      explode_outer(array_distinct(wordShingles(col("toks"), n))).as("s"): _*)
      .withColumn("kind", lit(3))
    val bi = base.select(keys :+
      explode_outer(wordShingles(col("toks"), 2)).as("s"): _*)
      .withColumn("kind", lit(2))
    val lookup = benchIndex
      .select(lit(3).as("kind"), col("s"), lit(1L).as("hit"), lit(0L).as("df_ppm"))
      .union(bigramDf.select(lit(2).as("kind"), col("s"), lit(0L).as("hit"), col("df_ppm")))
    val joined = sh3.union(bi)
      .join(broadcast(lookup), Seq("kind", "s"), "left")
    watermark.fold(joined)(joined.withWatermark(tsCol, _))
      .groupBy(keys: _*)
      .agg(
        sum(when(col("kind") === 3 && col("s").isNotNull, 1L).otherwise(0L)).as("n_ngrams"),
        sum(when(col("kind") === 3, coalesce(col("hit"), lit(0L))).otherwise(0L)).as("n_contaminated"),
        sum(when(col("kind") === 2 && col("s").isNotNull, 1L).otherwise(0L)).as("n_bigrams"),
        sum(when(col("kind") === 2, coalesce(col("df_ppm"), lit(0L))).otherwise(0L)).as("sum_df_ppm"))
      .withColumn("contaminated", col("n_contaminated") > 0L)
      .withColumn("familiarity_ppm",
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(intDiv(col("sum_df_ppm"), col("n_bigrams"))))
      .withColumn("familiar_ok", col("familiarity_ppm") >= minFamiliarityPpm)
      .withColumn("keep",
        col("quality_ok") && col("lang_ok") && !col("contaminated") && col("familiar_ok"))
      .withColumn("reason",
        when(!col("quality_ok"), "low_quality")
          .when(!col("lang_ok"), "lang_mismatch")
          .when(col("contaminated"), "contaminated")
          .when(!col("familiar_ok"), "unfamiliar")
          .otherwise("keep"))
      .select(col(idCol), col("n_tokens"), col("quality_ok"), col("lang_ok"),
        col("contaminated"), col("familiarity_ppm"), col("keep"), col("reason"))
  }

  /** The composed production topology: the exact-dedup stage feeding the
    * curation stage as ONE streaming query — [[dedupStream]]'s
    * arrival-order survivor stream flows straight into
    * [[curationStream]]'s gates, so a duplicate never pays the
    * contamination/familiarity joins and the decision table contains
    * only canonical documents. Two chained stateful operators (the
    * within-watermark dedup state, then the per-doc keyed aggregation)
    * under one watermark — Spark 4 multi-stateful append mode; a restart
    * recovers BOTH states from the one checkpoint.
    *
    * Closed-input parity (spec-pinned): when arrival order matches id
    * order, the survivor set equals the batch
    * [[graft.operators.CorpusOps.curationDecisions]] canonical rows
    * (first arrival ⇔ min id), and every emitted decision matches the
    * batch table bit-for-bit. */
  def curationChainStream(corpus: DataFrame, benchIndex: DataFrame, bigramDf: DataFrame,
                          idCol: String, textCol: String, tsCol: String, langCol: String,
                          n: Int, watermark: String,
                          minFamiliarityPpm: Long): DataFrame = {
    val survivors = dedupStream(corpus, tsCol, textCol, watermark).drop("content_hash")
    curationStreamImpl(survivors, benchIndex, bigramDf, idCol, textCol, tsCol, langCol,
      n, None, minFamiliarityPpm)
  }

  /** The static side of [[curationStream]]'s familiarity gate: the
    * historical corpus's bigram document-frequency index, ppm of total
    * documents — trained in batch, broadcast to the stream (a text LM as
    * model state). Gated like every broadcast side. */
  def bigramDfIndex(histDocs: DataFrame, idCol: String, textCol: String,
                    maxIndexNgrams: Int = 10000000): DataFrame = {
    import graft.functions.TextFunctions._
    val inst = graft.operators.Dedup.shingleRows(histDocs, idCol, textCol, 2)
    val nDocs = histDocs.agg(count(lit(1)).as("n_docs"))
    val idx = inst.distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("s"), ppmExact(col("df"), col("n_docs")).as("df_ppm"))
    val nIdx = idx.limit(maxIndexNgrams + 1).count()
    require(nIdx <= maxIndexNgrams,
      s"bigramDfIndex: index exceeds maxIndexNgrams=$maxIndexNgrams distinct bigrams - " +
        "it is broadcast to the stream; frequency-cap the historical corpus or " +
        "raise the gate with executor memory to match")
    idx
  }

  /** The static side of [[decontaminateStream]]: the benchmark's distinct
    * shingle index, built in batch (the [[graft.operators.CorpusOps
    * .decontaminate]] bench side, same `maxBenchDocs` broadcast gate). */
  def benchShingleIndex(benchDocs: DataFrame, textCol: String, n: Int,
                        normalize: Boolean = false,
                        maxBenchDocs: Int = 1000000): DataFrame = {
    import graft.functions.TextFunctions._
    val nBench = benchDocs.limit(maxBenchDocs + 1).count()
    require(nBench <= maxBenchDocs,
      s"benchShingleIndex: benchmark side exceeds maxBenchDocs=$maxBenchDocs rows - " +
        "the index is broadcast to the stream; a benchmark this large suggests " +
        "the wrong side was passed")
    val txt = if (normalize) normalizeText(col(textCol)) else col(textCol)
    benchDocs
      .select(explode(array_distinct(wordShingles(tokens(txt), n))).as("s"))
      .distinct()
  }

  /** Streaming incremental near-dup matching — the continuous-ingestion
    * form of [[graft.operators.Dedup.minhashMatchesAgainst]]: documents
    * stream in, their MinHash signatures are computed PER ROW (each doc
    * arrives whole, so no streaming aggregation is needed — the
    * interpreted per-row folds touch one micro-batch at a time, the
    * [[ngramCountStream]] rationale), their LSH bands stream-static join
    * the STORED corpus sketch table, and verified matches emit in append
    * mode. Band-collision duplicates collapse via
    * `dropDuplicatesWithinWatermark` on the pair key, so the dedup state
    * is bounded by the watermark horizon, never the corpus.
    *
    * Output per verified match: (d_new, d_old, jaccard_ppm) — the
    * "today's crawl doc is already in the corpus" decision stream.
    * `existingSig` is a bounded-churn stored table ([[graft.operators
    * .Dedup.minhashSigTable]] persisted next to the corpus); Spark
    * re-plans the static side per micro-batch, picking broadcast or
    * shuffle join from its size. */
  def incrementalDedupStream(corpus: DataFrame, existingSig: DataFrame,
                             idCol: String, textCol: String, tsCol: String,
                             n: Int, k: Int, bandSize: Int,
                             minJaccardPpm: Long, watermark: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.operators.Dedup._
    val shingled = corpus
      .select(col(idCol).as("d_new"), col(tsCol),
        array_distinct(wordShingles(tokens(col(textCol)), n)).as("sh1"))
      .filter(size(col("sh1")) > 0)
      .withColumn("base", transform(col("sh1"), s => hash31(s)))
    val mhCols = (0 until k).map(i =>
      array_min(transform(col("base"),
        h => (lit(minhashA(i)) * h + lit(minhashB(i))) % MinhashP)).as(s"mh$i"))
    val sig = shingled.select(
      (Seq(col("d_new"), col(tsCol), col("sh1"), size(col("sh1")).cast("long").as("n1")) ++ mhCols): _*)
    val bandCols = (0 until k / bandSize).map { bIdx =>
      md5(concat_ws("|",
        (0 until bandSize).map(j => col(s"mh${bIdx * bandSize + j}").cast("string")): _*))
    }
    val newBands = sig.select(
      col("d_new"), col(tsCol), col("sh1"), col("n1"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
    val oldBands = sigBands(existingSig, k, bandSize)
      .select(col("band_idx"), col("band_hash"), col("doc").as("d_old"), col("ns").as("n2"))
    newBands
      .join(oldBands, Seq("band_idx", "band_hash"))
      .filter(col("n1") * 1000000L >= col("n2") * minJaccardPpm &&
              col("n2") * 1000000L >= col("n1") * minJaccardPpm)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("d_new", "d_old")
      .join(existingSig.select(col("doc").as("d_old"), col("shingles").as("sh2")), Seq("d_old"))
      .withColumn("shared", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("jaccard_ppm",
        intDiv(col("shared") * 1000000L, col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select(col("d_new"), col("d_old"), col("jaccard_ppm"))
  }

  /** The SELF-MAINTAINING near-dup index — the continuous-ingestion
    * topology where the corpus sketch table both SERVES and GROWS: each
    * micro-batch is matched against every previously seen document's
    * stored MinHash signature, within-batch duplicates collapse by
    * connected components (min-id canonical), and the whole batch's
    * signatures are appended to the sketch so the NEXT batch sees them.
    * No static index needs to exist up front — batch 0 bootstraps it.
    *
    * Semantics (arrival-order first-seen-wins, the near-dup
    * generalization of [[dedupStream]]): a document is kept iff it has
    * no verified near-dup among all previously seen documents AND it is
    * the min-id canonical of its within-batch near-dup component
    * (components with any previously-seen match drop whole — exact CC
    * over batch edges + stored matches). Matches are computed against
    * ALL stored signatures (kept and dropped), so transitive chains
    * a~b~c across batches dedup even when a !~ c. The one divergence
    * from global batch CC: a late document bridging two already-emitted
    * survivors cannot retroactively merge them (spec-pinned).
    * Sub-`n`-token documents have no shingles — kept (reason
    * `too_short`), never indexed.
    *
    * Fault tolerance: decisions write with dynamic partition-overwrite
    * on `batch_id` (replay-idempotent), the sketch append commits
    * exactly once through [[appendOnce]]'s log, and matching always
    * filters the sketch to STRICTLY EARLIER batches — a replayed batch recomputes identical
    * decisions even if it crashed mid-write (checkpoint-restart
    * spec-pinned).
    *
    * Scale: per-batch cost is the q93 stream-static shape — band
    * equi-join of batch-bands x stored-bands (candidates scale with the
    * batch, never corpus²), batch-sized CC, one append. The stored side
    * is touched only through its sketch; Spark re-plans it per batch,
    * picking broadcast vs shuffle from its actual size. Each append adds
    * one file set (≤ the sig table's partition count), so the dir grows
    * ~files/batch × batches — `compactEveryBatches = Some(e)` runs the
    * crash-safe [[compactSketch]] inline every `e` batches, bounding the
    * file count at ~`compactTargetFiles + e × files/batch` (measured
    * file-count-vs-latency table in PLANS.md). */
  def selfMaintainingDedupSink(corpus: DataFrame, idCol: String, textCol: String,
                               n: Int, k: Int, bandSize: Int, minJaccardPpm: Long,
                               sketchPath: String, decisionsPath: String,
                               checkpointLocation: String,
                               compactEveryBatches: Option[Int] = None,
                               compactTargetFiles: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    corpus.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupIndexBatch(batch, batchId, idCol, textCol, n, k, bandSize,
          minJaccardPpm, sketchPath, decisionsPath,
          compactEveryBatches, compactTargetFiles)
      }
      .start()

  private[streaming] def processDedupIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, n: Int, k: Int, bandSize: Int,
      minJaccardPpm: Long, sketchPath: String, decisionsPath: String,
      compactEveryBatches: Option[Int] = None, compactTargetFiles: Int = 32): Unit = {
    import graft.operators.{Checkpoints, Dedup}
    val spark = batch.sparkSession
    recoverSketch(spark, sketchPath)
    val sketch = new Path(sketchPath)
    val stored: Option[DataFrame] =
      if (sketch.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sketch))
        Some(spark.read.parquet(sketchPath))
      else None
    val prior = stored.map(_.filter(col("batch_id") < batchId))
    val sig = Checkpoints.stage(
      Dedup.minhashSigTable(batch, idCol, textCol, n, k))
    // previously-seen matches: batch sketch vs ALL earlier signatures
    val storedHits = prior.map(p =>
      Dedup.minhashMatchesAgainst(sig, p, k, bandSize, minJaccardPpm)
        .select(col("d_new").as("id")).distinct())
    // within-batch components over verified near-dup pairs
    val within = Dedup.minhashLshPairsFromSig(sig, k, bandSize, minJaccardPpm)
    val comp = Dedup.connectedComponents(within, "d1", "d2")
    val ids = batch.select(col(idCol).as("id")).distinct()
    val labeled = ids
      .join(comp, Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .join(sig.select(col("doc").as("id"), lit(true).as("has_sig")), Seq("id"), "left")
      .join(storedHits.getOrElse(ids.limit(0)).withColumn("stored_dup", lit(true)),
        Seq("id"), "left")
    val compDropped = labeled.filter(col("stored_dup")).select(col("comp")).distinct()
      .withColumn("comp_dropped", lit(true))
    val canon = labeled.groupBy(col("comp")).agg(min(col("id")).as("canon_id"))
    val decisions = labeled
      .join(broadcast(compDropped), Seq("comp"), "left")
      .join(canon, Seq("comp"))
      .withColumn("reason",
        when(col("has_sig").isNull, "too_short")
          .when(coalesce(col("comp_dropped"), lit(false)), "stored_dup")
          .when(col("id") =!= col("canon_id"), "batch_dup")
          .otherwise("kept"))
      .select(col("id").as(idCol), lit(batchId).as("batch_id"),
        (col("reason") === "kept" || col("reason") === "too_short").as("kept"),
        col("reason"))
    overwriteByBatchId(decisions, decisionsPath)
    appendOnce(sig.withColumn("batch_id", lit(batchId)), batchId, sketchPath)
    Checkpoints.free(sig)
    // Online compaction: between the append above and the next batch's
    // read there is NO other reader of the sketch dir (this loop is its
    // only consumer), so the crash-safe swap can run right here — the
    // small-files growth is bounded at compactEveryBatches × files/batch
    // instead of unbounded-until-restart. Replays re-enter harmlessly:
    // compaction preserves rows, and recoverSketch above heals a crash
    // mid-swap before anything is read.
    compactEveryBatches.foreach { every =>
      require(every > 0, s"compactEveryBatches must be positive, got $every")
      if (batchId % every == every - 1)
        compactSketch(spark, sketchPath, compactTargetFiles)
    }
  }

  /** Replay-idempotent per-batch write: dynamic partition-overwrite on
    * `batch_id` (a per-write option, so the session's conf is never
    * touched), so a replayed micro-batch rewrites exactly its own
    * partition and a crash mid-write leaves no partial batch visible to
    * a re-run. */
  private def overwriteByBatchId(df: DataFrame, path: String): Unit =
    df.write.partitionBy("batch_id").option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)

  /** The full production ingestion topology: the self-maintaining
    * NEAR-dup index's survivor stream feeding the curation gates —
    * [[selfMaintainingDedupSink]] composed with [[curationStream]]'s
    * decision logic in ONE sink.
    *
    * foreachBatch output cannot feed a second stateful streaming query
    * directly, so the composition runs the curation stage PER BATCH
    * inside the same foreachBatch, after the near-dup stage commits its
    * decisions: this batch's survivors (kept canonicals + unshingleable
    * `too_short` rows) are re-joined to the batch rows and pushed
    * through the EXACT [[curationStream]] gate pipeline (quality,
    * language-ID, static broadcast bench-index contamination, static
    * bigram-LM familiarity) as a batch query — same code path, so the
    * composed decisions provably match the chain spec's batch oracle.
    * The curation table is written with the same `batch_id`
    * partition-overwrite as the dedup decisions: a replayed batch
    * recomputes identical near-dup decisions (strictly-earlier sketch
    * filter) and therefore identical curation rows.
    *
    * Scale: adds ZERO new state to the stream — curation state lives
    * only within a batch (one keyed aggregation over the batch's
    * n-grams); the only cross-batch state remains the sketch table.
    * Near-dup drops never pay the n-gram explode or the gate joins —
    * the reason the dedup stage runs first. */
  def selfMaintainingCurationSink(corpus: DataFrame, idCol: String, textCol: String,
                                  tsCol: String, langCol: String,
                                  n: Int, k: Int, bandSize: Int, minJaccardPpm: Long,
                                  benchIndex: DataFrame, bigramDf: DataFrame,
                                  curationN: Int, minFamiliarityPpm: Long,
                                  sketchPath: String, decisionsPath: String,
                                  curationPath: String, checkpointLocation: String,
                                  compactEveryBatches: Option[Int] = None,
                                  compactTargetFiles: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    corpus.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCurationChainBatch(batch, batchId, idCol, textCol, tsCol, langCol,
          n, k, bandSize, minJaccardPpm, benchIndex, bigramDf, curationN,
          minFamiliarityPpm, sketchPath, decisionsPath, curationPath,
          compactEveryBatches, compactTargetFiles)
      }
      .start()

  private[streaming] def processCurationChainBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, tsCol: String, langCol: String,
      n: Int, k: Int, bandSize: Int, minJaccardPpm: Long,
      benchIndex: DataFrame, bigramDf: DataFrame,
      curationN: Int, minFamiliarityPpm: Long,
      sketchPath: String, decisionsPath: String, curationPath: String,
      compactEveryBatches: Option[Int] = None, compactTargetFiles: Int = 32): Unit = {
    processDedupIndexBatch(batch, batchId, idCol, textCol, n, k, bandSize,
      minJaccardPpm, sketchPath, decisionsPath,
      compactEveryBatches, compactTargetFiles)
    val spark = batch.sparkSession
    val kept = spark.read.parquet(decisionsPath)
      .filter(col("batch_id") === batchId && col("kept"))
      .select(col(idCol))
    val survivors = batch.join(kept, Seq(idCol))
    val curation = curationStreamImpl(survivors, benchIndex, bigramDf,
        idCol, textCol, tsCol, langCol, curationN, None, minFamiliarityPpm)
      .withColumn("batch_id", lit(batchId))
    overwriteByBatchId(curation, curationPath)
  }

  /** Per-batch ANN serving against a stored [[graft.operators.AnnIndex]]
    * — the production alternative to [[graft.operators.AnnIndex
    * .probeStream]]: each micro-batch of queries goes through the BATCH
    * `topK` path inside foreachBatch, so the stored `codes` table is
    * pruned by the batch's LITERAL probed-cell set (static partition
    * pruning — a probe reads nprobe/ncells of the index files, where the
    * stream-static join can only hope for runtime pruning). No watermark
    * or window semantics: results for a batch are final when the batch
    * commits, written with the same `batch_id` partition-overwrite as
    * the dedup sinks (replay-idempotent — `topK` is deterministic, so a
    * replayed batch rewrites identical rows).
    *
    * Trade-off vs [[graft.operators.AnnIndex.probeStream]]: this sink
    * re-collects the (tiny, gated) model tables per batch and cannot
    * aggregate ACROSS batches (no event-time window) — use probeStream
    * when late queries must join an open window, this sink when
    * per-batch finality + maximal index pruning is the goal. */
  def annServeSink(queryStream: DataFrame, idCol: String, vecCol: String,
                   indexDir: String, k: Int, outPath: String,
                   checkpointLocation: String, nprobe: Int = 1,
                   maxQueriesPerBatch: Int = 10000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val topk = graft.operators.AnnIndex
          .topK(batch, idCol, vecCol, indexDir, k, nprobe, maxQueriesPerBatch)
          .withColumn("batch_id", lit(batchId))
        overwriteByBatchId(topk, outPath)
      }
      .start()

  /** Self-maintaining Z-ORDERED table sink — the [[compactSketch]]
    * operational pattern applied to LAYOUT: each micro-batch appends to
    * `tablePath` in arrival order (cheap), and every
    * `clusterEveryBatches` batches the WHOLE table is rewritten into
    * Z-order over `cols` through the crash-safe
    * [[graft.operators.DirSwap]] — so the accumulated table keeps tight
    * per-file min/max envelopes on EVERY clustered dimension (the
    * [[graft.sources.Layout]] skipping property) instead of degrading to
    * arrival-order files forever. At 100 TB this is the streaming
    * ingest → queryable-fact-table loop: appends stay O(batch), the
    * rewrite is one stats job + one range shuffle over the table, and a
    * crash at any point leaves a complete copy ([[DirSwap]]'s state
    * machine, healed before every batch).
    *
    * EXACTLY-ONCE appends through [[appendOnce]]'s marker commit log
    * (`<table>.batches`): the replay probe is one bounded log listing
    * (never a table scan), a crash mid-commit is healed by the redo
    * deleting exactly its own partial `b<id>-*` files, and an empty or
    * half-written table directory is never read on the append path at
    * all (no schema-inference crash loops). Envelope-index rows for a
    * batch are appended only AFTER its marker, so the index never
    * describes files a redo will rewrite. Rows still carry `batch_id`
    * (it survives the clustering rewrite, and downstream consumers use
    * it); the marker log, not the column, is the source of commit truth.
    * Single-writer contract: this sink is the table's only writer;
    * same-process readers should go through
    * [[graft.sources.Layout.readHealed]] (heals an interrupted swap
    * first). */
  def selfClusteringSink(df: DataFrame, cols: Seq[String], tablePath: String,
                         checkpointLocation: String,
                         clusterEveryBatches: Int = 8,
                         targetFiles: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(clusterEveryBatches > 0,
      s"clusterEveryBatches must be positive, got $clusterEveryBatches")
    require(!cols.contains("batch_id"), "batch_id is the sink's replay column")
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processClusterBatch(batch, batchId, cols, tablePath,
          clusterEveryBatches, targetFiles)
      }
      .start()
  }

  /** Envelope-index file-count bound for the self-clustering sink: the
    * index gains one file per micro-batch ([[graft.sources.Layout
    * .appendEnvelopes]]); past this many it is DirSwap-compacted to one,
    * so the index can never become its own small-files problem however
    * large `clusterEveryBatches` is. */
  private val IndexCompactFiles = 16

  /** Marker-log compaction cadence: every this-many batches, a
    * watermark file replaces the markers at least this many batches old
    * (never the recent ones a restart could still probe). */
  private val MarkerKeep = 64

  /** One record of an append-once table's commit log: the marker
    * `b<id>` of a committed batch, or a compaction watermark `wm-<id>`
    * standing for every id at or below it. The name may carry one Long
    * after `@`: the exact-HH spill records its batch's max event time
    * there, and a watermark carries the max over the records it
    * replaced — so reading the log is a listing, never a file read. */
  private final case class LogRecord(watermark: Boolean, id: Long, value: Option[Long]) {
    def name: String = (if (watermark) "wm-" else "b") + id + value.fold("")("@" + _)
    def commits(batchId: Long): Boolean = if (watermark) batchId <= id else batchId == id
  }
  private val LogName = """(b|wm-)(\d+)(?:@(-?\d+))?""".r

  /** The records of the commit log at `<table>.batches` — one listing,
    * at most ~2×[[MarkerKeep]]+2 names by construction. A crash
    * mid-compaction can leave two watermarks; each was sound when
    * written, so the larger one wins. */
  private def commitLog(fs: FileSystem, tablePath: String): Seq[LogRecord] = {
    val logDir = new Path(s"$tablePath.batches")
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.map(_.getPath.getName).collect {
      case LogName(kind, id, v) => LogRecord(kind == "wm-", id.toLong, Option(v).map(_.toLong))
    }
  }

  /** Append `df` to `tablePath` EXACTLY ONCE for `batchId`: the commit
    * protocol shared by every append-once foreachBatch sink (the
    * self-clustering table, the dedup sketch, the exact-HH spill). Replay
    * is decided here, from the log, never by scanning the table.
    *   1. The log `<table>.batches` already records the batch (its
    *      marker, or an id at or below the compaction watermark): skip,
    *      return None.
    *   2. Delete the partial `b<id>-*` files a crashed attempt of THIS
    *      batch left (deterministic names; partition subdirectories
    *      included).
    *   3. Stage the write, then rename each file into the table as
    *      `b<id>-<i>.parquet` under its partition subdirectory.
    *   4. Write the marker, carrying `record()` (evaluated after the
    *      write, so an Observation on `df` has arrived).
    *   5. Every [[MarkerKeep]] batches a `wm-<id>` watermark supersedes
    *      the markers at or below id, which are deleted. Sound because
    *      foreachBatch serializes batches (batch N only runs after N-1's
    *      marker landed, so a watermark at N-[[MarkerKeep]] asserts only
    *      what the log already proved); the log never holds more than
    *      ~2×[[MarkerKeep]] + 2 files. A crash anywhere here is safe: the
    *      watermark is written before the deletions.
    * Returns the committed files. Single-writer contract: the sink is
    * the table's only writer. */
  private def appendOnce(df: DataFrame, batchId: Long, tablePath: String,
                         partitionBy: Seq[String] = Nil,
                         record: () => Option[Long] = () => None): Option[Seq[String]] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val log = commitLog(fs, tablePath)
    if (log.exists(_.commits(batchId))) None
    else {
      // listStatus, not listFiles: a located status reads each file's
      // permissions, which the local filesystem forks a process for
      def files(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap(s =>
        if (s.isDirectory) files(s.getPath) else Seq(s.getPath))
      if (fs.exists(table))
        files(table).filter(_.getName.startsWith(s"b$batchId-")).foreach(fs.delete(_, false))
      val stagingRoot = new Path(s"$tablePath.batch-tmp")
      val staging = fs.makeQualified(new Path(stagingRoot, batchId.toString))
      df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(staging.toString)
      val moved = files(staging).filter(_.getName.endsWith(".parquet")).sortBy(_.toString)
        .zipWithIndex.map { case (src, i) =>
          val partDir = src.getParent.toString.stripPrefix(staging.toString)
          val dst = new Path(tablePath + partDir, s"b$batchId-$i.parquet")
          fs.mkdirs(dst.getParent)
          require(fs.rename(src, dst), s"appendOnce: could not commit $src to $dst")
          dst.toString
        }
      fs.delete(stagingRoot, true)
      val logDir = new Path(s"$tablePath.batches")
      fs.create(new Path(logDir, LogRecord(false, batchId, record()).name), true).close()
      if (batchId >= MarkerKeep && batchId % MarkerKeep == 0) {
        val wm = batchId - MarkerKeep
        val superseded = log.filter(r => r.id < wm || r.id == wm && !r.watermark)
        val mark = LogRecord(true, wm, superseded.flatMap(_.value).maxOption)
        fs.create(new Path(logDir, mark.name), true).close()
        superseded.foreach(r => fs.delete(new Path(logDir, r.name), false))
      }
      Some(moved)
    }
  }

  private[streaming] def processClusterBatch(batch: DataFrame, batchId: Long,
      cols: Seq[String], tablePath: String,
      clusterEveryBatches: Int, targetFiles: Int): Unit = {
    val spark = batch.sparkSession
    // manifest-maintained from batch 0 on: a crashed table-level swap is
    // healed by COMPLETING the retirement, never deleting the backup a
    // prior snapshot still references
    val retireTo =
      if (graft.sources.Manifest.isManifested(spark, tablePath))
        Some(graft.sources.Manifest.retiredPath(tablePath))
      else None
    graft.operators.DirSwap.recover(spark, tablePath, retireTo)
    // heal the INDEX dir too: the append path below DirSwap-compacts
    // .envelopes, and a crash mid-compaction would otherwise leave the
    // index as .compact-backup — the next appendEnvelopes would then
    // recreate a fresh live dir holding ONE batch's rows and a later
    // recover would drop the backup, silently losing every prior envelope
    // row (I/O-only degradation, but pruning would be gone for old files
    // until the next full rewrite)
    graft.operators.DirSwap.recover(spark,
      graft.sources.Layout.envelopesPath(tablePath))
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = appendOnce(batch.withColumn("batch_id", lit(batchId)), batchId, tablePath)
    committed.foreach { moved =>
      // index the fresh files AFTER the marker: a crash before it leaves
      // no envelope rows for files the redo will re-write (stale stats on
      // a reused path would break skipping exactness); a crash after it
      // leaves the batch merely unindexed — prunedRead reads unindexed
      // files unconditionally. Bloom columns the table's index already
      // carries ride along, so a bloom-indexed table keeps point-lookup
      // pruning on FRESH batches too (a NULL-bloom row would only ever
      // read more, but why degrade)
      graft.sources.Layout.appendEnvelopes(spark, tablePath, moved, cols,
        bloomCols = graft.sources.Layout.bloomColumns(spark, tablePath)
          .filter(cols.contains))
      // bound the index's own file count (one append per batch)
      val envDir = new Path(graft.sources.Layout.envelopesPath(tablePath))
      if (fs.exists(envDir) && fs.listStatus(envDir)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) > IndexCompactFiles)
        graft.operators.DirSwap.swapRewrite(spark, envDir.toString)(_.coalesce(1))(
          (d, out) => d.write.mode("overwrite").parquet(out))
    }
    // same single-writer window as the sketch compactor: between this
    // append and the next batch's read nothing else touches the table
    val rewrote =
      batchId % clusterEveryBatches == clusterEveryBatches - 1 && fs.exists(table) &&
        fs.listStatus(table).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (rewrote) {
      graft.operators.DirSwap.swapRewrite(spark, tablePath,
        Some(graft.sources.Manifest.retiredPath(tablePath)))(
        graft.sources.Layout.cluster(_, cols, targetFiles))(
        (d, out) => d.write.mode("overwrite").parquet(out))
      // refresh the skipping index over the clustered layout; files the
      // NEXT batches append are simply absent from it until the next
      // rewrite — prunedRead reads unindexed files unconditionally, so
      // staleness costs I/O, never rows. Bloom columns the previous
      // index generation carried are preserved (derived, like the stats)
      graft.sources.Layout.writeEnvelopes(spark, tablePath, cols,
        graft.sources.Layout.bloomColumns(spark, tablePath).filter(cols.contains))
    }
    // commit the batch (and/or rewrite) as a manifest snapshot: a
    // cross-process reader resolving manifests never sees the staged or
    // half-renamed b<id>-* files of an in-flight batch, and a rewrite
    // race resolves to the old or new complete set (the replaced
    // generation is retired above, vacuum-bounded). A crash between the
    // marker and this write just delays the batch's visibility to
    // snapshot readers by one batch — the replay probe skips the redo,
    // and the NEXT batch's manifest includes these files. The schemas
    // are known here (the batch's plus batch_id, flat table), so the
    // commit skips the footer-inference read — one less job per batch.
    if ((committed.nonEmpty || rewrote) && fs.exists(table)) {
      val dataSchema = org.apache.spark.sql.types.StructType(
        batch.withColumn("batch_id", lit(batchId)).schema.fields.map(_.copy(nullable = true)))
      graft.sources.Manifest.write(spark, tablePath,
        schemas = Some((dataSchema, new org.apache.spark.sql.types.StructType())))
    }
    ()
  }

  /** Maintenance for [[selfMaintainingDedupSink]]'s sketch table: per-batch
    * appends accumulate one small file set per micro-batch — the classic
    * small-files problem; at production batch rates the sketch dir
    * degrades every later batch's scan. Rewrites the table into
    * `targetFiles` right-sized files, preserving every row and the
    * `batch_id` stamps (the sketch's commit log lives beside the table,
    * so replay idempotency keeps working).
    *
    * Safe to run between streaming restarts AND online between batches
    * (the foreachBatch loop is the sketch's only reader, and it reads at
    * batch start — `compactEveryBatches` wires the cadence). Crash-safe
    * swap order: write tmp → rename live to backup → rename tmp to live
    * → delete backup; a crash at any point leaves a complete copy under
    * either the live or the backup name (never delete-before-rename),
    * and [[recoverSketch]] — run here and at every batch start — heals
    * each intermediate state deterministically. */
  def compactSketch(spark: SparkSession, sketchPath: String, targetFiles: Int): Unit =
    graft.operators.DirSwap.swapRewrite(spark, sketchPath)(_.repartition(targetFiles))(
      (df, out) => df.write.mode("overwrite").parquet(out))

  /** Heal an interrupted [[compactSketch]] swap — the generic
    * [[graft.operators.DirSwap.recover]] (see there for the state
    * machine), kept under its original name as the streaming-facing
    * verb. Idempotent and cheap when there is nothing to heal. */
  def recoverSketch(spark: SparkSession, sketchPath: String): Unit =
    graft.operators.DirSwap.recover(spark, sketchPath)

  /** Streaming sessionization (the time-gap half of A10, §2.7): native
    * `session_window` merges a key's events into variable-length sessions
    * closed by `gap` of silence; the watermark both bounds state and
    * decides when a session is final (append mode emits only closed
    * sessions). The batch operator ([[graft.operators.Sessionize]]) also
    * chains on the height delta — the reference's second condition —
    * which `session_window` cannot express; a streaming caller needing it
    * drops to flatMapGroupsWithState (see [[voteLatencyStream]] for the
    * state pattern). */
  def sessionStream(df: DataFrame, tsCol: String, keyCol: String,
                    watermark: String, gap: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Windowed frequent-items stream: a Misra–Gries summary per tumbling
    * event-time window ([[graft.agg.MisraGriesAgg]] — the same mergeable
    * sketch the batch [[graft.operators.HeavyHitters]] prunes with).
    *
    * The aggregation state per window is the O(k)-counter MG buffer —
    * bounded like [[graft.agg.BoundedTopKAgg]], never the window's
    * distinct-item set — so this is the state-safe streaming shape for
    * "what's trending per window" at any item cardinality. The emitted
    * summary carries the sketch guarantees (every item above n/(k+1)
    * present; count ≤ true ≤ count + err), NOT exact counts: exactness
    * needs the batch verify pass over closed data. */
  def heavyHitterStream(df: DataFrame, tsCol: String, itemCol: String,
                        windowDur: String, watermark: String, k: Int,
                        groupCols: Seq[String] = Nil): DataFrame = {
    val mg = udaf(graft.agg.MisraGriesAgg(k))
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur) +: groupCols.map(col): _*)
      .agg(mg(col(itemCol)).as("summary"))
      .select(col("window.start").as("window_start") +: groupCols.map(col) ++: Seq(
        col("summary.entries").as("entries"),
        col("summary.err").as("err"), col("summary.n").as("n")): _*)
  }

  /** EXACT heavy hitters per CLOSED event-time window — the q112 contract
    * ([[graft.operators.HeavyHitters.exact]]: items above `phiPpm` with
    * their TRUE counts), streamed. [[heavyHitterStream]] can only emit
    * sketch summaries with error bounds, because exact counts need a
    * second pass over the window's full data; this sink buys that pass by
    * SPILLING each batch's rows into a window-partitioned parquet table
    * and running the sketch-pruned exact verify over each window once the
    * watermark closes it (the [[selfMaintainingDedupSink]] foreachBatch
    * topology).
    *
    * Per batch: rows landing in already-closed windows drop (watermark
    * semantics — the watermark is max event time of STRICTLY EARLIER
    * batches minus `watermark`, i.e. it advances between triggers like
    * Spark's own); survivors append to `spillPath` partitioned by window
    * start; then every spilled window whose END ≤ the advanced watermark
    * is verified EXACTLY — [[graft.operators.HeavyHitters.exactPerGroup]]
    * with the window as the group, so the MG candidate prune and the
    * driver-free semi-join verify apply per window — written to
    * `resultsPath` (win_us, groupCols*, item, cnt, ppm — `ppm` relative
    * to the (window, group) row count when `groupCols` is non-empty, the
    * [[heavyHitterStream]] grouped contract), and its spill partitions
    * are deleted.
    *
    * Storage is O(open-window data), not O(stream): a window's rows live
    * only from arrival to closure. State per open window is the spill
    * partition itself — nothing driver-side.
    *
    * Fault tolerance (all replay-idempotent): the spill append commits
    * exactly once through [[appendOnce]]'s log (`<spill>.batches`), and
    * each batch's log record also carries its max event time — the
    * watermark is read from that one log, with no table of its own. The
    * results write uses dynamic partition overwrite, and partition
    * deletion is the final step — a crash anywhere replays to the
    * identical state (the verify recomputes byte-identical results from
    * the same closed spill). The replay contract is the engine's own:
    * only the most recent, not-yet-committed batch ever replays —
    * batches behind the checkpoint never re-run (their windows' spill
    * may already be reclaimed). Spec-pinned: closed-input parity vs the
    * batch operator per window under 1/4/8-batch slicings, last-batch
    * replay idempotency (incl. the crash-after-results-before-reclaim
    * state), the redo of a torn spill append, late-row drop. */
  def exactHeavyHitterSink(df: DataFrame, tsCol: String, itemCol: String,
                           windowDur: String, watermark: String,
                           phiPpm: Long, k: Int,
                           spillPath: String, resultsPath: String,
                           checkpointLocation: String,
                           groupCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processExactHhBatch(batch, batchId, tsCol, itemCol, windowDur,
          delayMicros(watermark), phiPpm, k, spillPath, resultsPath, groupCols)
      }
      .start()

  /** Parse a duration string ("10 minutes") to microseconds via the same
    * interval grammar Spark's `withWatermark` accepts; month-granularity
    * intervals are rejected (no fixed micro length). */
  private[streaming] def delayMicros(dur: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(dur))
    require(iv.months == 0, s"month-based watermark '$dur' has no fixed length")
    iv.days * 86400000000L + iv.microseconds
  }

  private[streaming] def processExactHhBatch(batch: DataFrame, batchId: Long,
      tsCol: String, itemCol: String, windowDur: String, delayUs: Long,
      phiPpm: Long, k: Int, spillPath: String, resultsPath: String,
      groupCols: Seq[String] = Nil): Unit = {
    require(!groupCols.exists(c => Seq("win_us", "win_end_us", "item", "ts_us", "batch_id").contains(c)),
      s"groupCols collide with the sink's working columns: ${groupCols.mkString(",")}")
    import graft.operators.HeavyHitters
    val spark = batch.sparkSession
    val spill = new Path(spillPath)
    val fs = spill.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val w = window(col(tsCol), windowDur)
    val rows = batch.select(
      Seq(unix_micros(w.getField("start")).as("win_us"),
        unix_micros(w.getField("end")).as("win_end_us"),
        col(itemCol).cast("string").as("item"),
        unix_micros(col(tsCol)).as("ts_us")) ++ groupCols.map(col): _*)
      .filter(col("item").isNotNull && col("ts_us").isNotNull)

    // watermark as of the PREVIOUS trigger: max event time over strictly
    // earlier batches, read from the spill's commit log (replay-
    // deterministic — a replayed batch drops the same late rows it
    // dropped the first time)
    val log = commitLog(fs, spillPath)
    def watermarkThrough(id: Long, own: Option[Long]): Long =
      (log.filter(_.id <= id).flatMap(_.value) ++ own).maxOption
        .fold(Long.MinValue)(_ - delayUs)
    val wmBefore = watermarkThrough(batchId - 1, None)

    // 1. spill the batch's live rows exactly once; its max event time is
    //    observed on the same write (before the late-row filter) and
    //    stored in the batch's log record
    val obs = Observation()
    lazy val batchMax = Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s")))
      .filterNot(_.isNullAt(0)).map(_.getLong(0))
    val appended = appendOnce(
      rows.observe(obs, max(col("ts_us"))).filter(col("win_end_us") > wmBefore)
        .withColumn("batch_id", lit(batchId)),
      batchId, spillPath, Seq("win_us"), () => batchMax)

    // 2. advance the watermark: a replayed batch's own max is in the log
    val wmNow = watermarkThrough(batchId, appended.flatMap(_ => batchMax))

    // 3. exact verify per closed window; the spill's partition
    //    directories name its windows (no scan), so the closed list is
    //    bounded by windows-in-flight (watermark delay / window width)
    val windowUs = delayMicros(windowDur)
    val closed = (if (fs.exists(spill)) fs.listStatus(spill).toSeq else Nil)
      .map(_.getPath).filter(_.getName.startsWith("win_us="))
      .filter(_.getName.stripPrefix("win_us=").toLong + windowUs <= wmNow)
    if (closed.nonEmpty) {
      // the spill's schema is known here: no inference job, and an empty
      // window directory reads as no rows instead of failing
      val closedRows = spark.read.schema(rows.schema.add("batch_id", "long"))
        .option("basePath", spillPath).parquet(closed.map(_.toString): _*)
      val verified = HeavyHitters.exactPerGroup(closedRows, "win_us" +: groupCols, col("item"), phiPpm, k)
      try verified.write.partitionBy("win_us")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(resultsPath)
      finally graft.operators.Checkpoints.freeAll(verified) // the staged candidates
      closed.foreach(fs.delete(_, true))
    }
    ()
  }

  /** STREAM-STREAM point-in-interval join — both the point stream and the
    * interval stream live ([[graft.operators.IntervalJoin.pointInInterval]]
    * covers batch and stream-static): each point row matched to every
    * same-key interval containing its event time, as a NATIVE Spark
    * stream-stream inner join whose state the engine reaps from
    * watermarks.
    *
    * Spark can only bound join state when the time condition relates the
    * two sides' WATERMARKED event-time columns through constant bounds —
    * a data-dependent interval end can't do that. So the join condition
    * is `p.ts BETWEEN i.start AND i.start + maxSpan` (the state-cleanup
    * range) plus the exact `p.ts <= i.end` containment as a plain
    * filter conjunct. `maxSpan` therefore CONTRACTUALLY bounds interval
    * length; an interval whose end exceeds `start + maxSpan` would
    * silently lose matches, so it fails loudly per row instead
    * (codegen'd `raise_error`, the [[graft.operators.IntervalJoin]] cap
    * discipline).
    *
    * State per side is O(rows inside the watermark horizon): points wait
    * `pointWatermark`, intervals stay matchable for
    * `maxSpan + intervalWatermark` past their start. Late rows beyond
    * the watermarks drop — standard stream-stream semantics. Inner only:
    * a streaming left-outer needs the same contract plus null-emission
    * on watermark expiry, which Spark provides natively if callers pass
    * `joinType="leftOuter"` on their own composition; the operator keeps
    * the exact inner contract spec-pinned (closed-input parity vs the
    * batch operator under batch slicing).
    *
    * @param pointTs / startCol / endCol TIMESTAMP columns (event time);
    *        non-key columns must be disjoint across the sides
    * @param maxSpan duration literal ("2 hours") — hard bound on
    *        `end - start`, enforced per row */
  def pointInIntervalStream(points: DataFrame, intervals: DataFrame,
                            keys: Seq[String], pointTs: String,
                            startCol: String, endCol: String,
                            maxSpan: String,
                            pointWatermark: String,
                            intervalWatermark: String): DataFrame = {
    val overlap = points.columns.filterNot(keys.contains).toSet
      .intersect(intervals.columns.filterNot(keys.contains).toSet)
    require(overlap.isEmpty, s"non-key columns must be disjoint, both sides have: ${overlap.mkString(",")}")
    require(delayMicros(maxSpan) > 0, s"maxSpan must be positive, got '$maxSpan'")
    val p = points.withWatermark(pointTs, pointWatermark)
    val i = intervals
      .withColumn(endCol,
        when(col(endCol) > col(startCol) + expr(s"INTERVAL $maxSpan"),
          raise_error(concat(
            lit(s"pointInIntervalStream: interval end exceeds start + maxSpan ($maxSpan) at start="),
            col(startCol).cast("string"),
            lit(" - matches past the span bound would be silently lost; raise maxSpan")))
            .cast(intervals.schema(endCol).dataType))
          .otherwise(col(endCol)))
      .withWatermark(startCol, intervalWatermark)
    val cond = keys.map(k => p(k) === i(k)).reduce(_ && _) &&
      col(pointTs) >= col(startCol) &&
      col(pointTs) <= col(startCol) + expr(s"INTERVAL $maxSpan") &&
      col(pointTs) <= col(endCol)
    keys.foldLeft(p.join(i, cond))((df, k) => df.drop(i(k)))
  }

  /** STREAM-STREAM interval-overlap join — both interval streams live
    * (the overlap analog of [[pointInIntervalStream]];
    * [[graft.operators.IntervalJoin.overlap]] covers batch): every
    * same-key (left, right) pair whose `[start, end]` spans intersect,
    * as a native watermarked stream-stream inner join.
    *
    * The engine can only reap join state from constant bounds between
    * the two WATERMARKED event-time columns (the starts); a
    * data-dependent end cannot bound state. With both sides' spans
    * capped at `maxSpan`, any overlapping pair satisfies
    * `|lStart − rStart| ≤ maxSpan` (each side's start precedes the
    * other's end, which is at most that start + maxSpan), so that band
    * joins the condition as the state-cleanup range — implied by the
    * overlap predicate, never changing semantics. An interval whose end
    * exceeds `start + maxSpan` would silently lose matches, so it fails
    * loudly per row instead (codegen'd `raise_error`, the
    * [[pointInIntervalStream]] discipline, applied on BOTH sides).
    *
    * State per side is O(rows inside the watermark horizon): a row stays
    * matchable for `maxSpan + watermark` past its start. Late rows
    * beyond the watermarks drop — standard stream-stream semantics.
    * Inner only, exactly [[pointInIntervalStream]]'s contract.
    *
    * @param lStart / lEnd / rStart / rEnd TIMESTAMP columns (event
    *        time); non-key columns must be disjoint across the sides
    * @param maxSpan duration literal ("2 hours") — hard bound on
    *        `end − start` per side, enforced per row */
  def overlapStream(left: DataFrame, right: DataFrame, keys: Seq[String],
                    lStart: String, lEnd: String,
                    rStart: String, rEnd: String,
                    maxSpan: String,
                    leftWatermark: String,
                    rightWatermark: String): DataFrame = {
    val overlapCols = left.columns.filterNot(keys.contains).toSet
      .intersect(right.columns.filterNot(keys.contains).toSet)
    require(overlapCols.isEmpty,
      s"non-key columns must be disjoint, both sides have: ${overlapCols.mkString(",")}")
    require(delayMicros(maxSpan) > 0, s"maxSpan must be positive, got '$maxSpan'")
    def capped(df: DataFrame, s: String, e: String, side: String): DataFrame =
      df.withColumn(e,
        when(col(e) > col(s) + expr(s"INTERVAL $maxSpan"),
          raise_error(concat(
            lit(s"overlapStream: $side interval end exceeds start + maxSpan ($maxSpan) at start="),
            col(s).cast("string"),
            lit(" - matches past the span bound would be silently lost; raise maxSpan")))
            .cast(df.schema(e).dataType))
          .otherwise(col(e)))
    val l = capped(left, lStart, lEnd, "left").withWatermark(lStart, leftWatermark)
    val r = capped(right, rStart, rEnd, "right").withWatermark(rStart, rightWatermark)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      // state-cleanup band on the two watermarked starts (implied by the
      // overlap predicate under the maxSpan caps — see scaladoc)
      col(rStart) >= col(lStart) - expr(s"INTERVAL $maxSpan") &&
      col(rStart) <= col(lStart) + expr(s"INTERVAL $maxSpan") &&
      // the exact overlap predicate
      col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd)
    keys.foldLeft(l.join(r, cond))((df, k) => df.drop(r(k)))
  }

  /** STREAM-STREAM as-of join, NATIVE form (completes the watermarked
    * trio: [[pointInIntervalStream]], [[overlapStream]], and now as-of) —
    * each probe row enriched with the LATEST same-key version row at or
    * before its event time, looking back at most `horizon`. Semantics =
    * [[graft.operators.AsOfJoin.backward]] with `tolerance = horizon`
    * (inclusive, non-strict), joinType `inner` or `leftOuter`.
    *
    * Two chained stateful operators: a watermarked stream-stream join on
    * the band `probeTs - horizon <= versionTs <= probeTs` (the constant
    * bounds the engine needs to reap join state), then a per-probe
    * `max_by` aggregation grouped on the probe's FULL row — including the
    * watermarked `probeTs`, which is what lets append mode emit each
    * probe exactly once, when the watermark passes its event time. Unlike
    * [[temporalAsOfStream]] (O(historyDepth) state/key but exact only
    * under per-key event-time-ordered arrival), this form is EXACT for
    * ANY arrival order within the watermarks — the aggregation holds each
    * probe open until no matching version can still arrive; the price is
    * join state O(rows inside horizon + watermark) instead of O(depth),
    * and `horizon` is part of the query's semantics (a version older than
    * the horizon never matches; the batch operator expresses the same
    * contract as `tolerance`). Late rows beyond the watermarks drop —
    * standard stream-stream semantics.
    *
    * Probe rows are their own group identity, so they must be DISTINCT
    * as full rows (duplicate probes would collapse into one output row —
    * include a unique id column, the [[graft.operators.IntervalJoin
    * .pointInIntervalLeft]] pointId discipline); version rows should be
    * unique per (keys, versionTs), or ties resolve arbitrarily (the
    * batch operator's tiebreak columns have no streaming analog here).
    *
    * @param probeTs / versionTs TIMESTAMP columns (event time); non-key
    *        columns must be disjoint across the sides
    * @param horizon duration literal ("1 day") — how far back a version
    *        may be; also the join's state-cleanup band
    * @param joinType `inner` (probes with no version in the horizon drop)
    *        or `leftOuter` (kept with null version columns) */
  def asofStream(probes: DataFrame, versions: DataFrame, keys: Seq[String],
                 probeTs: String, versionTs: String,
                 horizon: String,
                 probeWatermark: String,
                 versionWatermark: String,
                 joinType: String = "inner"): DataFrame = {
    val overlapCols = probes.columns.filterNot(keys.contains).toSet
      .intersect(versions.columns.filterNot(keys.contains).toSet)
    require(overlapCols.isEmpty,
      s"non-key columns must be disjoint, both sides have: ${overlapCols.mkString(",")}")
    require(delayMicros(horizon) > 0, s"horizon must be positive, got '$horizon'")
    // accept the batch operator's vocabulary ("left") and Spark's own
    require(Set("inner", "left", "leftOuter").contains(joinType),
      s"joinType must be inner or left/leftOuter, got '$joinType'")
    val sparkJoinType = if (joinType == "inner") "inner" else "leftOuter"
    val p = probes.withWatermark(probeTs, probeWatermark)
    val v = versions.withWatermark(versionTs, versionWatermark)
    val cond = keys.map(k => p(k) === v(k)).reduce(_ && _) &&
      col(versionTs) <= col(probeTs) &&
      col(versionTs) >= col(probeTs) - expr(s"INTERVAL $horizon")
    val joined = keys.foldLeft(p.join(v, cond, sparkJoinType))((df, k) => df.drop(v(k)))
    val versionCols = versions.columns.filterNot(keys.contains)
    // per-probe argmax: the newest joined version, expanded back to the
    // version side's own columns (null-extended when leftOuter matched
    // nothing — max_by skips null-ordered rows, so the struct stays null)
    joined
      .groupBy(probes.columns.map(col).toIndexedSeq: _*)
      .agg(max_by(struct(versionCols.map(col).toIndexedSeq: _*), col(versionTs)).as("__gasof_v"))
      .select(probes.columns.toIndexedSeq.map(col) ++
        versionCols.toIndexedSeq.map(c => col(s"__gasof_v.$c").as(c)): _*)
  }

  /** One side of the temporal as-of stream: `side` = "l" (probe) or "r"
    * (version); `payload` carries the side's data. */
  final case class AsOfSide(key: String, ts: Long, side: String, payload: String)
  final case class AsOfJoined(key: String, ts: Long, payload: String,
                              rightTs: Option[Long], rightPayload: Option[String])
  /** One retained version row (Flink's "temporal table" snapshot entry). */
  final case class AsOfState(rightTs: Long, rightPayload: String)
  /** Keyed state: the most recent `historyDepth` versions, newest first. */
  final case class AsOfHistory(versions: List[AsOfState])

  /** Streaming temporal as-of join (Flink's temporal table join, the
    * streaming face of [[graft.operators.AsOfJoin.backward]]): a probe
    * stream enriched, per key, with the latest version row at-or-before
    * each probe's event time.
    *
    * State per key is the newest `historyDepth` versions — O(D), not a
    * full history. Within a micro-batch rows process in (ts,
    * version-first) order, so closed-input single-batch runs match the
    * batch operator exactly AT ANY DEPTH (inclusive, last-version-wins on
    * ts ties — spec-pinned: the latest version ≤ a probe's ts is always
    * the most recently retained one). Across batches the join is exact
    * whenever each key's rows arrive in event-time order; a LATE probe is
    * served correctly as long as its floor version is still inside the
    * retained window, and fails CLOSED (`rightTs = null`) — never a
    * time-traveled wrong match — once it falls off the horizon. Depth 1
    * is the pure-snapshot mode; raise it to buy late-probe tolerance with
    * per-key state.
    *
    * `union` both sides into one [[AsOfSide]] stream ("r" rows = versions,
    * "l" rows = probes); every probe emits exactly one [[AsOfJoined]].
    *
    * Memory bound: the CROSS-batch state is O(historyDepth) per key, but
    * WITHIN a micro-batch one key's rows are buffered and sorted in the
    * executor (`rows.toSeq.sortBy` — event-time order is what makes
    * single-batch runs exact), so per-key per-batch memory is the key's
    * share of the batch. Cap batch sizes at ingest
    * (`maxFilesPerTrigger` / `maxOffsetsPerTrigger` / rate limits) so one
    * hot key's slice of a batch fits a task comfortably. */
  def temporalAsOfStream(spark: SparkSession, sides: Dataset[AsOfSide],
                         historyDepth: Int = 1): Dataset[AsOfJoined] = {
    import spark.implicits._
    require(historyDepth > 0, s"historyDepth must be positive, got $historyDepth")
    sides
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[AsOfSide], state: GroupState[AsOfHistory]) => {
          // newest-first; insertion keeps order and the D-bound
          var hist = state.getOption.map(_.versions).getOrElse(Nil)
          val out  = scala.collection.mutable.ArrayBuffer.empty[AsOfJoined]
          // Version rows sort before probes at one ts (inclusive as-of);
          // equal-ts versions resolve last-in-order = max payload, the
          // batch operator's greatest-tiebreak contract.
          val ordered = rows.toSeq.sortBy(r => (r.ts, if (r.side == "r") 0 else 1, r.payload))
          ordered.foreach { r =>
            if (r.side == "r") {
              val (newer, older) = hist.span(v => v.rightTs > r.ts)
              hist = (newer ::: (AsOfState(r.ts, r.payload) :: older)).take(historyDepth)
            } else {
              val m = hist.find(_.rightTs <= r.ts)
              out += AsOfJoined(key, r.ts, r.payload, m.map(_.rightTs), m.map(_.rightPayload))
            }
          }
          if (hist.nonEmpty) state.update(AsOfHistory(hist))
          out.iterator
        })
  }
}
