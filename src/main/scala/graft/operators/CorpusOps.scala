package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import Checkpoints.CheckpointOps

/** Corpus-assembly operators for the training-data pipeline: the steps
  * that come AFTER cleaning/dedup — turning a filtered document set into
  * training sequences and reproducible splits.
  *
  * Determinism policy (oracle hash parity): token counts are exact
  * integers, split assignment is md5-derived, pack arithmetic is integer
  * division — every output is reproducible bit-for-bit in DuckDB.
  */
object CorpusOps {

  /** GPT-style sequence packing (concat-and-chunk): documents are laid
    * head-to-tail in deterministic (shard, id) order and cut into
    * fixed-`budget`-token training sequences; a document may span a pack
    * boundary. Output per document: its shard, token count, start offset
    * in the shard's token stream, and first/last pack ids.
    *
    * Scale: the running-offset window is partitioned by `shard`
    * (`id % nShards`), so packing parallelizes across shards with one
    * shuffle on a uniform key — a single global ordering would serialize
    * the 100 TB corpus through one partition. nShards scales with the
    * cluster; each shard's stream is an independent training-data file,
    * which is how large pretraining corpora are sharded anyway.
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCount: Column,
                    budget: Long, nShards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("shard", pmod(col(idCol), lit(nShards.toLong)))
      .withColumn("n_tokens", tokenCount)
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_pack", intDiv(col("start_offset"), lit(budget)))
      // empty docs occupy no tokens: their last pack is their first
      .withColumn("last_pack",
        intDiv(greatest(col("start_offset") + col("n_tokens") - 1L, col("start_offset")), lit(budget)))
      .withColumn("spans_boundary", col("last_pack") > col("first_pack"))
      .select(col(idCol), col("shard"), col("n_tokens"), col("start_offset"),
        col("first_pack"), col("last_pack"), col("spans_boundary"))
  }

  /** Context-window chunking: split each document's token stream into
    * overlapping windows of `window` tokens advancing by `stride` — the
    * standard long-document → training-examples preparation (HF
    * `return_overflowing_tokens` shape). Chunk `k` covers token positions
    * `[k*stride, min(k*stride + window, n))`; the last chunk may be
    * short; a document yields `1 + ceil(max(n - window, 0) / stride)`
    * chunks (zero-token documents yield none). One row per chunk with
    * its reassembled text.
    *
    * Scale: embarrassingly parallel — tokens, chunk indices, and slices
    * are all narrow per-row array ops (sequence/posexplode/slice,
    * whole-stage codegen'd); no shuffle, no state. Output size is
    * `~n/stride` rows per document — the operator's product, not
    * overhead. */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= window,
      s"chunkWindows: need 1 <= stride <= window, got stride=$stride window=$window")
    val nChunks = when(col("n_tokens") === 0L, 0L)
      .otherwise(lit(1L) + intDiv(
        greatest(col("n_tokens") - window.toLong, lit(0L)) + (stride.toLong - 1L),
        lit(stride.toLong)))
    docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // sequence(0, -1) DESCENDS rather than being empty: zero-token docs
      // must take the empty-array branch, which explode() then drops
      .withColumn("k", explode(when(nChunks > 0L,
        sequence(lit(0L), nChunks - 1L)).otherwise(array().cast("array<bigint>"))))
      .withColumn("chunk_start", col("k") * stride.toLong)
      .withColumn("chunk_len",
        least(lit(window.toLong), col("n_tokens") - col("chunk_start")))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("toks"), (col("chunk_start") + 1L).cast("int"),
          col("chunk_len").cast("int"))))
      .select(col(idCol), col("k").as("chunk_idx"), col("chunk_start"),
        col("chunk_len"), col("chunk_text"))
  }

  /** Deterministic stratified train/val/test split: assignment is a pure
    * function of (salt, id) via md5, so membership is reproducible across
    * runs, engines, and cluster sizes — no RNG state, no sampling drift.
    * Buckets are per-mille: [0, trainPm) train, [trainPm, trainPm+valPm)
    * val, rest test. Stratum is any column (language, source, domain);
    * the split is hash-uniform WITHIN each stratum because the hash is
    * id-keyed, so per-stratum proportions hold at scale.
    *
    * Scale: embarrassingly parallel — one narrow projection, no shuffle.
    */
  def stratifiedSplit(docs: DataFrame, idCol: String, stratum: Column,
                      salt: String, trainPm: Int, valPm: Int): DataFrame =
    docs
      .withColumn("stratum", stratum)
      .withColumn("bucket_pm",
        pmod(conv(substring(md5(concat(lit(salt + ":"), col(idCol).cast("string"))), 1, 8), 16, 10)
          .cast("long"), lit(1000L)))
      .withColumn("split",
        when(col("bucket_pm") < trainPm, "train")
          .when(col("bucket_pm") < trainPm + valPm, "val")
          .otherwise("test"))
      .select(col(idCol), col("stratum"), col("bucket_pm"), col("split"))

  /** Intra-document repetition score: the fraction of repeated word
    * `n`-grams (1 - distinct/total, in exact ppm). High values flag
    * boilerplate, template spam, and degenerate generations — a standard
    * pretraining quality filter. Narrow per-row computation, no shuffle. */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = wordShingles(toks, n)
    docs
      .withColumn("n_ngrams", size(grams).cast("long"))
      .withColumn("n_distinct_ngrams", size(array_distinct(grams)).cast("long"))
      .withColumn("rep_ppm", ppm(col("n_ngrams") - col("n_distinct_ngrams"), col("n_ngrams")))
      .select(col(idCol), col("n_ngrams"), col("n_distinct_ngrams"), col("rep_ppm"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * `n`-gram with a benchmark/eval set — the standard "did the training
    * set leak the test set" filter run before every pretraining job.
    * `isBenchmark` splits the input: benchmark docs contribute their
    * distinct shingles to the contamination index; every NON-benchmark
    * document is scored by how many of its distinct shingles appear in
    * that index.
    *
    * Scale: the benchmark side is small by construction (eval sets are
    * thousands of docs, not billions), so its distinct-shingle index is a
    * broadcast-able dimension; the corpus side is one explode + one
    * aggregation — an inverted-index semi-join, never all-pairs. Short
    * documents (< n tokens) have zero shingles and score 0.
    *
    * "Small by construction" is ENFORCED: a benchmark side over
    * `maxBenchDocs` rows fails loudly (bounded `limit(n+1).count()`, so
    * the check never scans far past the ceiling) instead of broadcasting
    * a mislabeled corpus into every executor.
    *
    * `normalize = true` applies the standard decontamination
    * canonicalization before shingling — lowercase, every
    * non-alphanumeric run collapsed to one space — so cosmetic edits
    * (case, punctuation) don't hide a leaked benchmark document.
    *
    * A NULL `isBenchmark` reads as false: the document is scored as
    * corpus, never silently dropped (and never joins the bench index).
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isBenchmark: Column, n: Int,
                    normalize: Boolean = false, maxBenchDocs: Int = 1000000): DataFrame = {
    val nBench = docs.filter(isBenchmark).limit(maxBenchDocs + 1).count()
    require(nBench <= maxBenchDocs,
      s"decontaminate: benchmark side exceeds maxBenchDocs=$maxBenchDocs rows - its " +
        "shingle index is broadcast; a benchmark this large suggests a mislabeled " +
        "isBenchmark predicate")
    val txt = if (normalize) normalizeText(col(textCol)) else col(textCol)
    val sh = docs
      .withColumn("shingles", array_distinct(wordShingles(tokens(txt), n)))
      .withColumn("is_bench", coalesce(isBenchmark, lit(false)))
    val benchIndex = sh.filter(col("is_bench"))
      .select(explode(col("shingles")).as("s")).distinct()
    val corpus = sh.filter(!col("is_bench"))
      .select(col(idCol), col("shingles"), size(col("shingles")).cast("long").as("n_ngrams"))
    val hits = corpus
      .select(col(idCol), explode(col("shingles")).as("s"))
      .join(broadcast(benchIndex), Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
    corpus
      .join(hits, Seq(idCol), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contam_ppm", ppm(col("n_contaminated"), col("n_ngrams")))
      .withColumn("contaminated", col("n_contaminated") > 0L)
      .select(col(idCol), col("n_ngrams"), col("n_contaminated"),
        col("contam_ppm"), col("contaminated"))
  }

  /** Deterministic global training order: every document gets a
    * reproducible (shard, position) from an md5-keyed shuffle — the
    * "shuffle once, read in order forever" layout of a training corpus.
    * The shard is the hash's residue, the position a dense rank within
    * the shard by (hash, id) — no RNG, identical on any engine/cluster.
    *
    * Scale: one narrow projection plus one per-shard window; shards are
    * hash-uniform so the windows parallelize evenly, and nShards scales
    * with the cluster (a single global row_number would serialize). The
    * dense `pos` makes each shard ONE window partition — a shard is a
    * sequential unit by construction — so at 100 TB nShards must be set
    * >= the cluster's task parallelism (thousands), or the window stage
    * runs fewer tasks than cores. One exchange total, on the shard key
    * (plan-shape-guarded). */
  def trainOrder(docs: DataFrame, idCol: String, salt: String, nShards: Int): DataFrame = {
    val h = hash60(concat(lit(salt + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc, col(idCol).asc)
    docs
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Temperature-based domain mixing (alpha = 0.5): per-domain sampling
    * rates that flatten the corpus toward balanced domains — kept mass per
    * domain ~ sqrt(n_d), the standard up/down-sampling used to keep huge
    * crawl domains from drowning small curated ones. The per-doc keep
    * decision is md5-bucketed (reproducible, no RNG); the smallest domain
    * is kept whole (rate = 1), larger domains at sqrt(min_n / n_d).
    *
    * Determinism: rates are floor(1e6 * sqrt(min_n / n_d)) — one double
    * division + sqrt + multiply + floor over exact ints, a fixed IEEE op
    * sequence, bit-identical across engines.
    *
    * Scale: the domain-count aggregate is tiny (domains are few);
    * broadcast back over the corpus for the per-doc bucket test, then one
    * aggregation — two narrow shuffles total. */
  def domainMix(docs: DataFrame, idCol: String, domain: Column, salt: String): DataFrame = {
    val counts = docs
      .withColumn("domain", domain)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("min_n", min(col("n_docs")).over(Window.partitionBy()))
      .withColumn("keep_ppm",
        floor(lit(1000000.0d) * sqrt(col("min_n").cast("double") / col("n_docs").cast("double")))
          .cast("long"))
      .select(col("domain"), col("n_docs"), col("keep_ppm"))
    docs
      .withColumn("domain", domain)
      .join(broadcast(counts), Seq("domain"))
      .withColumn("bucket_ppm",
        pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))), lit(1000000L)))
      .withColumn("sampled", col("bucket_ppm") < col("keep_ppm"))
      .groupBy(col("domain"))
      .agg(
        max(col("n_docs")).as("n_docs"),
        max(col("keep_ppm")).as("keep_ppm"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("domain"), col("n_docs"), col("keep_ppm"), col("n_sampled"))
  }

  /** Corpus-wide boilerplate detection: the top-`k` word `n`-grams by
    * total occurrence count (ties broken by n-gram text ascending), with
    * the number of distinct documents each appears in. Navigation chrome,
    * cookie banners, and template spam surface as n-grams whose doc
    * frequency rivals the corpus size — the C4/RefinedWeb-style signal
    * for "this span is site furniture, not content".
    *
    * Scale: spans come from the codegen'd relational shingle builder
    * ([[Dedup.shingleRows]] — posexplode + window leads; the higher-order
    * `transform` runs interpreted and is 10x slower), then a two-level
    * aggregation — (gram, doc) partial counts, then per-gram totals —
    * which gives the distinct-doc count without Spark's expand
    * duplication, both levels map-side combined. The top-k is
    * `orderBy(...).limit(k)`, which Spark executes as
    * TakeOrderedAndProject — per-partition heaps of k rows, never a
    * global sort of the n-gram table. */
  def boilerplateNgrams(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    Dedup.shingleRows(docs, idCol, textCol, n)
      .select(col("doc"), col("s").as("gram"))
      .groupBy(col("gram"), col("doc"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("gram"))
      .agg(sum(col("c")).as("occurrences"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("gram").asc)
      .limit(k)

  /** Repeated-span coverage — the memorization-risk diagnostic from the
    * "Deduplicating Training Data Makes Language Models Better" line of
    * work: for each document, how many of its word `n`-gram positions are
    * covered by a span that occurs MORE THAN ONCE corpus-wide (counting
    * multiplicity, so a span repeated within one document counts too).
    * High coverage marks documents that are mostly duplicated text even
    * when no single whole-document near-dup exists.
    *
    * Scale: spans come from the codegen'd relational shingle builder
    * ([[Dedup.shingleRows]]) and travel the per-span shuffle as 60-bit
    * hashes, never strings (collisions can only overcount repeats —
    * acceptable for a diagnostic, and reproduced exactly by the oracle
    * which uses the same hash). One aggregation per span hash (map-side
    * combined), one join back to the exploded spans on that same hash
    * partitioning (exchange reused), one per-document aggregation. No
    * all-pairs anywhere. */
  def repeatedSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    // The span table feeds two branches (the frequency aggregate and the
    // join side); one localCheckpoint = one compute of the explode+hash
    // pipeline (the Dedup sketch-table pattern — persist to reliable
    // storage at cluster scale). Its blocks BACK the returned lazy frame,
    // so they cannot be freed here; long-lived callers drop them after
    // consuming the result (Bench drains via
    // sparkContext.getPersistentRDDs). Same lifetime note for the
    // importanceWeights feature cache and the sourceOverlap shingle set.
    val spans = Dedup.shingleRows(docs, idCol, textCol, n)
      .select(col("doc"), hash60(col("s")).as("h"))
      .stageCheckpoint()
    val freq = spans.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val perDoc = spans
      .join(freq, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1L, 1L).otherwise(0L)).as("n_repeated"))
    docs
      .select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        ppm(coalesce(col("n_repeated"), lit(0L)), coalesce(col("n_spans"), lit(0L)))
          .as("repeated_ppm"))
  }

  /** Cross-document repeated-span CUT — the APPLY step of exact-substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2021): every word `n`-gram span occurring in at
    * least `minDocs` DISTINCT documents is cut from every document, and
    * the survivor text is rebuilt from the uncovered tokens.
    * [[repeatedSpanCoverage]] measures the phenomenon; this removes it.
    * Output per document: token count, exact cut-token count (the union
    * of the matching spans' `[pos, pos+n)` intervals), cut ppm, and the
    * cleaned text (empty when fully cut).
    *
    * Scale: the position-kept span table is built relationally once and
    * checkpointed (feeds the doc-frequency aggregate and the match join);
    * span doc-frequency is an n-gram-vocabulary-sized table; matches come
    * from one equi-join on the 60-bit span hash. The rebuild is the one
    * genuinely position-level stage — covered positions explode from
    * MATCHED spans only (n x match volume, the price of producing text
    * rather than a coverage number; use [[repeatedSpanCoverage]] when a
    * measure suffices), then one anti-join and one per-doc
    * order-pinned re-aggregation. */
  def cutRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDocs: Long): DataFrame = {
    val spans = Dedup.shingleRows(docs, idCol, textCol, n, keepPos = true)
      .select(col("doc"), col("pos"), hash60(col("s")).as("h"))
      .stageCheckpoint()
    val repeated = spans.select(col("doc"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
    val covered = spans.join(repeated, Seq("h"))
      .withColumn("p", explode(sequence(col("pos"), col("pos") + (n - 1))))
      .select(col("doc"), col("p")).distinct()
    val nCut = covered.groupBy(col("doc")).agg(count(lit(1)).as("n_cut"))
    val toks = docs.select(col(idCol).as("doc"),
      posexplode(tokens(col(textCol))).as(Seq("p", "tok")))
    val rebuilt = toks.join(covered, Seq("doc", "p"), "left_anti")
      .groupBy(col("doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          e => e.getField("tok")), " ").as("text_clean"))
    docs
      .select(col(idCol).as("doc"), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(nCut, Seq("doc"), "left")
      .join(rebuilt, Seq("doc"), "left")
      .withColumn("n_cut", coalesce(col("n_cut"), lit(0L)))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_cut"),
        ppm(col("n_cut"), col("n_tokens")).as("cut_ppm"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** DSIR-style importance weighting (hashed-feature variant): score every
    * non-target document by how much its hashed unigram distribution looks
    * like the `isTarget` slice — the standard "select web data that
    * resembles the curated set" step before pretraining. Features are
    * tokens hashed into `buckets` bins; each bin gets a Laplace-smoothed
    * affinity ratio in exact ppm:
    *
    *   affinity(f) = floor(1e6 * ((tgt(f)+1) / (TGT_TOTAL+buckets))
    *                           / ((raw(f)+1) / (RAW_TOTAL+buckets)))
    *
    * (> 1e6 means the feature is over-represented in the target). A
    * document's score is the truncating integer mean affinity over its
    * token positions.
    *
    * Determinism: counts are exact i64; the probability ratio is a FIXED
    * IEEE double op sequence (two divisions, one multiply, floor — the
    * [[domainMix]] pattern), bit-identical across engines. Doubles
    * represent every count exactly up to 2^53 (~9e15), so the ratio
    * never overflows at any realistic corpus size — the naive all-integer
    * cross-product `(tgt+1)*(RAW_TOTAL+buckets)` would blow past int64 at
    * ~1e13 corpus tokens. The per-feature affinity is additionally capped
    * at 1e12 ppm (a 1e6x over-representation — far beyond any meaningful
    * signal) so the downstream int64 `sum(cnt * affinity)` cannot wrap
    * either: the per-document sum is bounded by 1e12 x doc tokens, safe
    * to ~9e6 tokens per document.
    *
    * Scale: the corpus is exploded ONCE into a per-document hashed
    * feature-count table (doc, f, cnt) — the standard DSIR feature-cache
    * artifact, bounded by docs × distinct-features-per-doc, far smaller
    * than token rows — which is materialized and feeds both the global
    * feature aggregate and the scoring join. The feature table itself is
    * bounded by `buckets` (default 2^18) rows regardless of corpus size —
    * that is the point of hashing — so it broadcasts; scoring is a
    * broadcast-join + one per-document aggregation (map-side combined).
    * The two corpus-total counts ride the feature aggregate (no extra
    * pass). */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 1 << 18): DataFrame = {
    // per-doc hashed feature counts: one explode, one map-side-combined
    // aggregation; checkpointed once for its two consumers (at cluster
    // scale persist it — it IS the DSIR feature cache)
    val featCounts = docs
      .withColumn("is_target", isTarget)
      .select(col(idCol).as("doc"), col("is_target"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("f", pmod(hash60(col("tok")), lit(buckets.toLong)))
      .groupBy(col("doc"), col("is_target"), col("f"))
      .agg(count(lit(1)).as("cnt"))
      .stageCheckpoint()
    val feat = featCounts
      .groupBy(col("f"))
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("tgt"),
        sum(when(col("is_target"), 0L).otherwise(col("cnt"))).as("raw"))
    val totals = feat.agg(sum(col("tgt")).as("tgt_total"), sum(col("raw")).as("raw_total"))
    featCounts.filter(!col("is_target"))
      .join(broadcast(feat), Seq("f"))
      .crossJoin(broadcast(totals))
      .withColumn("affinity_ppm",
        least(lit(1000000000000L),
          floor(lit(1000000.0d) *
            ((col("tgt") + 1L).cast("double") / (col("tgt_total") + buckets.toLong).cast("double")) /
            ((col("raw") + 1L).cast("double") / (col("raw_total") + buckets.toLong).cast("double")))
            .cast("long")))
      .groupBy(col("doc"))
      .agg(sum(col("cnt")).as("n_tokens"),
        intDiv(sum(col("cnt") * col("affinity_ppm")), sum(col("cnt"))).as("score_ppm"))
      .select(col("doc").as(idCol), col("n_tokens"), col("score_ppm"))
  }

  /** The SAMPLING step of DSIR (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): turn
    * [[importanceWeights]]' per-document scores into a deterministic
    * keep/drop decision calibrated to a target kept-TOKEN budget. One
    * global scale factor makes the EXPECTED kept token mass equal
    * `budgetTokens`:
    * {{{
    *   scale_ppt = budget * 1e18 / sum(n_tokens * score_ppm)
    *   keep_ppm  = min(1e6, score_ppm * scale_ppt / 1e12)
    * }}}
    * and the keep test is the salted md5 bucket (reproducible, no RNG —
    * the [[domainMix]] pattern), so a document's fate never depends on
    * partitioning, row order, or a seed state.
    *
    * Ranges (PLANS.md sweep): the importance mass reaches ~1e19 at 1e13
    * tokens — past int64 — so the 1x1 totals row and the per-doc keep_ppm
    * multiply run exact in DECIMAL(38,0) (document-count-sized frames,
    * never the token stream — the q82 rule; DuckDB side uses HUGEINT).
    * `budget >= mass` saturates scale at 1e18 — every nonzero-score doc
    * kept — which doubles as the overflow guard on the integral divide.
    *
    * Scale: one aggregate over the weights table, a broadcast 1x1 scale
    * row, one narrow projection — no shuffles beyond
    * [[importanceWeights]] itself. */
  def importanceResample(docs: DataFrame, idCol: String, textCol: String,
                         isTarget: Column, budgetTokens: Long, salt: String,
                         buckets: Int = 1 << 18): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    // the weights table feeds TWO consumers — the 1-row mass aggregate
    // and the final keep projection — and the scoring join + per-doc
    // aggregate above it would otherwise evaluate once under EACH
    // (importanceWeights' checkpoint covers only the feature cache);
    // materialize the per-doc frame once (doc-count-sized, never tokens)
    val weights = importanceWeights(docs, idCol, textCol, isTarget, buckets)
      .stageCheckpoint()
    val scale = weights
      .agg(sum(dec(col("n_tokens")) * dec(col("score_ppm"))).as("mass"))
      .select(
        when(col("mass").isNull || dec(lit(budgetTokens)) >= col("mass"),
          lit(1000000000000000000L))
          .otherwise(intDiv(dec(lit(budgetTokens)) * dec(lit(1000000000000000000L)),
            col("mass")))
          .as("scale_ppt"))
    weights
      .crossJoin(broadcast(scale))
      .withColumn("keep_ppm",
        least(lit(1000000L),
          intDiv(dec(col("score_ppm")) * dec(col("scale_ppt")), dec(lit(1000000000000L)))))
      .withColumn("sampled",
        pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))), lit(1000000L))
          < col("keep_ppm"))
      .select(col(idCol), col("n_tokens"), col("score_ppm"), col("keep_ppm"),
        col("sampled"))
  }

  /** Target-proportion data mixing — the "hit this recipe" counterpart of
    * [[domainMix]]'s automatic temperature flattening: given explicit
    * target corpus shares per domain (ppm of the kept token budget — the
    * published-mix shape: X% web, Y% code, Z% books), compute each
    * domain's deterministic per-doc keep rate and the realized sample.
    * {{{
    *   keep_ppm_d = min(1e6, budget * share_ppm_d / tokens_d)
    * }}}
    * A domain absent from `targetSharesPpm` gets share 0 (dropped); a
    * domain too small for its share saturates at keep-everything (the
    * plan row exposes this — realized tokens fall short of target, the
    * signal to re-balance the recipe). Per-doc keep test: salted md5
    * bucket, no RNG.
    *
    * Ranges: budget * share_ppm reaches 1e19 at a 1e13-token budget —
    * the per-domain rate math runs in DECIMAL(38,0) on the domain-count
    * table (tiny); the corpus path is one token-count projection.
    *
    * Scale: one corpus aggregation to the per-domain token totals
    * (map-side combined), rates on the broadcast-sized domain table, one
    * broadcast join back, one final per-domain rollup — two narrow
    * shuffles total, independent of corpus size. */
  def mixPlan(docs: DataFrame, idCol: String, textCol: String, domain: Column,
              targetSharesPpm: Seq[(String, Long)], budgetTokens: Long,
              salt: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val spark = docs.sparkSession
    import spark.implicits._
    val shares = targetSharesPpm.toDF("domain", "share_ppm")
    val perDoc = docs
      .withColumn("domain", domain)
      .withColumn("n_tok", size(tokens(col(textCol))).cast("long"))
    val plan = perDoc
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .join(broadcast(shares), Seq("domain"), "left")
      .withColumn("share_ppm", coalesce(col("share_ppm"), lit(0L)))
      .withColumn("keep_ppm",
        when(col("n_tokens") === 0L, 0L).otherwise(
          least(lit(1000000L),
            intDiv(dec(lit(budgetTokens)) * dec(col("share_ppm")), dec(col("n_tokens"))))))
      .select(col("domain"), col("n_docs"), col("n_tokens"), col("share_ppm"),
        col("keep_ppm"))
    perDoc
      .join(broadcast(plan), Seq("domain"))
      .withColumn("sampled",
        pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))), lit(1000000L))
          < col("keep_ppm"))
      .groupBy(col("domain"))
      .agg(
        max(col("n_docs")).as("n_docs"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("share_ppm")).as("share_ppm"),
        max(col("keep_ppm")).as("keep_ppm"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("n_tok")).otherwise(0L)).as("sampled_tokens"))
      .select(col("domain"), col("n_docs"), col("n_tokens"), col("share_ppm"),
        col("keep_ppm"), col("n_sampled"), col("sampled_tokens"))
  }

  /** Token-budget corpus selection: the highest-scoring prefix of the
    * corpus that fits a training-token budget — "take the best docs
    * until the budget is spent", the data-selection step after scoring
    * (quality, DSIR affinity, …). Semantics: order by (score DESC, id
    * ASC), keep the maximal prefix whose cumulative token count stays
    * ≤ `budgetTokens` (the first doc to overflow stops the prefix —
    * deterministic, oracle-expressible as one SQL window).
    *
    * Scale — the naive formulation is a GLOBAL ordered window, which
    * serializes the corpus through one partition. Instead the global
    * cumulative sum decomposes by score class:
    *   1. per-score token totals (one shuffle; the score is an integer
    *      ppm, so this table is bounded by the 1e6+1-value score domain,
    *      NOT by corpus rows);
    *   2. an ordered window over that bounded table computes each
    *      class's strictly-before cumulative (single partition of ≤ 1e6
    *      tiny rows — bounded, documented, cheap);
    *   3. docs join their class offset (shuffle on score) and finish
    *      with a PER-CLASS ordered window (keyed by score — parallel
    *      across classes; skew bounded by the largest single-score
    *      equivalence class).
    * cum_tokens = class offset + within-class running sum equals the
    * global-order cumulative exactly. */
  def budgetSelect(docs: DataFrame, idCol: String, tokenCount: Column,
                   score: Column, budgetTokens: Long): DataFrame = {
    // scored feeds both the class-offset aggregate and the join back:
    // without a materialization the score/tokenCount expressions (often
    // a full tokenize of the text) evaluate TWICE — once per subtree.
    // The staged frame is 3 narrow columns per document.
    val scored = docs.select(col(idCol), score.as("score"), tokenCount.as("n_tokens"))
      .stageCheckpoint()
    val wBefore = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classOffsets = scored
      .groupBy(col("score")).agg(sum(col("n_tokens")).as("class_tokens"))
      .withColumn("cum_before", coalesce(sum(col("class_tokens")).over(wBefore), lit(0L)))
      // classes whose offset already exceeds the budget cannot contribute
      // rows — pruned BEFORE the corpus joins back, so the per-class
      // window below only runs over classes that can still emit
      .filter(col("cum_before") < budgetTokens)
      .select(col("score"), col("cum_before"))
    val wClass = Window.partitionBy(col("score")).orderBy(col(idCol).asc)
    scored
      .join(classOffsets, Seq("score"))
      .withColumn("cum_tokens", col("cum_before") + sum(col("n_tokens")).over(wClass))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col("score"), col("n_tokens"), col("cum_tokens"))
  }

  /** Span-level decontamination: instead of flagging whole documents (see
    * [[decontaminate]]), measure HOW MUCH of each document is covered by
    * benchmark text — the PaLM/Llama-style "cut the leaked span, keep the
    * rest" accounting. Every corpus word `n`-gram whose text appears in
    * the benchmark shingle index marks its n token positions; the output
    * is the exact token count and ppm fraction covered by the UNION of
    * those intervals, per document.
    *
    * The interval union is computed without materializing intervals: with
    * matching start positions sorted per document, each match contributes
    * `min(n, pos - prev_pos)` new covered tokens (`n` for the first) — a
    * single window pass.
    *
    * Scale: identical plan skeleton to [[decontaminate]] (bench index
    * broadcast, gated by `maxBenchDocs`) plus one per-document window on
    * the MATCHING positions only — a frame bounded by contamination
    * volume, not corpus size. Clean documents pass through the left join
    * with zero covered tokens.
    *
    * A NULL `isBenchmark` reads as false (the [[decontaminate]] rule):
    * the document is measured as corpus, never silently dropped. */
  def spanDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                        isBenchmark: Column, n: Int,
                        maxBenchDocs: Int = 1000000): DataFrame = {
    val nBench = docs.filter(isBenchmark).limit(maxBenchDocs + 1).count()
    require(nBench <= maxBenchDocs,
      s"spanDecontaminate: benchmark side exceeds maxBenchDocs=$maxBenchDocs rows - " +
        "its shingle index is broadcast; a benchmark this large suggests a " +
        "mislabeled isBenchmark predicate")
    // benchmark shingles come from the SMALL bench side via the per-row
    // HOF (the decontaminate pattern — off the corpus hot path); building
    // them from the corpus-wide window pipeline would recompute that
    // window a second time, because an is_bench filter cannot push below
    // a window partitioned by doc
    val benchIndex = docs.filter(isBenchmark)
      .select(explode(array_distinct(wordShingles(tokens(col(textCol)), n))).as("s"))
      .distinct()
    // corpus spans WITH positions (the shared relational shingle shape),
    // over NON-benchmark docs only — the filter sits on the base relation
    // (pushable to the scan), not above the window
    val isBench = coalesce(isBenchmark, lit(false))
    val sh = Dedup.shingleRows(
      docs.withColumn("is_bench", isBench).filter(!col("is_bench")),
      idCol, textCol, n, keepPos = true)
    // every non-benchmark doc passes through (incl. empty/short ones) with
    // a NARROW token count — no aggregation needed for the base frame
    val base = docs.withColumn("is_bench", isBench).filter(!col("is_bench"))
      .select(col(idCol).as("doc"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val wPos = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val covered = sh
      .join(broadcast(benchIndex), Seq("s"))
      .withColumn("prev", lag(col("pos"), 1).over(wPos))
      .withColumn("add",
        when(col("prev").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), (col("pos") - col("prev")).cast("long"))))
      .groupBy(col("doc"))
      .agg(sum(col("add")).as("n_covered"))
    base
      .join(covered, Seq("doc"), "left")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("covered_ppm", ppm(col("n_covered"), col("n_tokens")))
      .select(col("doc").as(idCol), col("n_tokens"), col("n_covered"), col("covered_ppm"))
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the number of distinct word `n`-gram shingles they share and the
    * shingle-set Jaccard in exact ppm — the "how much does crawl slice A
    * duplicate slice B" provenance diagnostic run before mixing corpora.
    * Only pairs with at least one shared shingle are emitted.
    *
    * Scale: shingles are built relationally (the [[Dedup.shingleRows]]
    * shape, with the source carried through the per-doc window) and
    * immediately collapse to distinct (src, 60-bit hash) rows — shingles
    * never travel as strings, and the distinct set is bounded by
    * |sources| × shingle vocabulary, not by corpus rows. That set is
    * checkpointed once. Per-source totals are a |sources|-row dimension,
    * broadcast twice.
    *
    * Two pair-counting paths, identical output:
    *  - **Bitmask rollup** (<= `maxMaskSources` sources, the realistic
    *    provenance case): each shingle's source set becomes one long via
    *    `bit_or(1 << bit)`; shingles collapse to (mask, n_h) — a table
    *    bounded by distinct masks, usually tiny — and pair counts are a
    *    broadcast join of that table against the |pairs| literal with two
    *    codegen'd bit tests. A shingle shared by m sources costs ONE mask
    *    row instead of m(m-1)/2 join rows, which is the difference on
    *    overlap-dense corpora.
    *  - **Per-shingle self-equi-join** (more sources than fit a long):
    *    a shingle shared by m sources contributes m(m-1)/2 pairs — still
    *    never an all-pairs product over documents.
    * The source-id collect is model state (provenance slices, not data
    * rows) and only happens under the <= maxMaskSources bound. */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    source: Column, n: Int, maxMaskSources: Int = 64): DataFrame = {
    // null-source documents have no provenance to attribute and are
    // excluded up front (the filter sits on the base relation); without
    // this the two pair paths would disagree (a bare null crashes the
    // driver-side probe's sort, while null fails src_a < src_b silently).
    // The source is cast to string so a non-string provenance column (an
    // int partition id, say) takes the same two paths with the same
    // lexicographic pair order instead of ClassCastException-ing the
    // driver probe on the bitmask path.
    val sh = Dedup.shingleRows(
      docs.withColumn("src", source.cast("string")).filter(col("src").isNotNull),
      idCol, textCol, n, carry = Seq("src"))
      .select(col("src"), hash60(col("s")).as("h"))
      .distinct()
      .stageCheckpoint()
    val totals = sh.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    // bounded probe: are there few enough sources for the bitmask path?
    val srcIds = sh.select(col("src")).distinct()
      .limit(maxMaskSources + 1).collect().map(_.getString(0)).sorted
    val shared =
      if (srcIds.length <= maxMaskSources && maxMaskSources <= 64 && srcIds.length >= 2) {
        val bitOf = srcIds.zipWithIndex.toMap
        val bitMap = typedlit(bitOf.map { case (s, i) => s -> i.toLong })
        val masks = sh
          .withColumn("bit", element_at(bitMap, col("src")))
          .groupBy(col("h"))
          // (src, h) rows are distinct, so each bit appears once per h:
          // the sum of distinct powers of two IS the bitwise OR
          .agg(sum(shl(lit(1L), col("bit").cast("int"))).as("mask"))
          .groupBy(col("mask"))
          .agg(count(lit(1)).as("n_h"))
        val pairRows = for {
          a <- srcIds; b <- srcIds if a < b
        } yield (a, b, bitOf(a).toLong, bitOf(b).toLong)
        val pairs = docs.sparkSession.createDataFrame(pairRows.toIndexedSeq)
          .toDF("src_a", "src_b", "bit_a", "bit_b")
        masks
          .crossJoin(broadcast(pairs))
          // bit test via AND, not % 2: shiftright sign-extends, so a mask
          // with bit 63 set (a 64th source) makes `shr % 2` yield -1
          .filter((shr(col("mask"), col("bit_a").cast("int")).bitwiseAND(lit(1L)) === 1L) &&
            (shr(col("mask"), col("bit_b").cast("int")).bitwiseAND(lit(1L)) === 1L))
          .groupBy(col("src_a"), col("src_b"))
          .agg(sum(col("n_h")).as("n_shared"))
      } else {
        sh.select(col("src").as("src_a"), col("h"))
          .join(sh.select(col("src").as("src_b"), col("h")), Seq("h"))
          .filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_shared"))
      }
    shared
      .join(broadcast(totals.select(col("src").as("src_a"), col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("src").as("src_b"), col("n_sh").as("n_b"))), Seq("src_b"))
      // ppmExact: per-SOURCE distinct-shingle counts are corpus-scale
      // (~1e13 at a 1e13-token corpus), where the int64 num*1e6 wraps —
      // the round-7 value-range audit's one real finding (PLANS.md)
      .withColumn("jaccard_ppm", ppmExact(col("n_shared"), col("n_a") + col("n_b") - col("n_shared")))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        col("jaccard_ppm"))
  }

  /** The end-of-pipeline CURATION DECISION TABLE — the composed keep/drop
    * verdict a production corpus filter actually materializes, one row
    * per document with every gate's flag and the first-failing reason
    * code:
    *
    *   1. `benchmark`     — eval-set documents never enter training data
    *   2. `exact_dup`     — not the canonical (min-id) copy of its content
    *   3. `low_quality`   — fails the q21 heuristics (alpha ratio >= 0.5,
    *                        >= 5 tokens, digit ratio <= 0.1)
    *   4. `lang_mismatch` — the stopword/CJK language-ID disagrees with
    *                        the declared language
    *   5. `contaminated`  — shares an n-gram with the benchmark slice
    *   6. `unfamiliar`    — bigram LM familiarity below the threshold
    *                        (the CCNet-style perplexity gate; docs too
    *                        short for a bigram score 0 and fail here)
    *   7. `keep`
    *
    * Every flag reuses the EXACT formulation of its standalone operator
    * (q21/q22/q23-style canonical window/q62/q96), so the decision table
    * provably agrees with the per-gate queries — spec-pinned by joining
    * it against each component on the real corpus.
    *
    * Scale: the quality/language flags are narrow codegen'd Columns; the
    * canonical check is one window over the content hash (the q23
    * shuffle); contamination rides [[decontaminate]]'s broadcast-gated
    * bench index; familiarity rides [[VocabOps.lmFamiliarity]]'s bigram
    * join; the final assembly is three equi-joins on the high-cardinality
    * doc id. No new shuffle shapes — the composition inherits each
    * component's audited plan. The corpus is deliberately SCANNED once
    * per component rather than cached: at 100 TB a columnar parquet
    * re-scan (each branch pruning its own columns) is cheap, while
    * caching the raw corpus doubles storage — materialize-once is
    * reserved for DERIVED tables (sketches, labels), never the source.
    * 10x-scaling smoke: 1.1x (a past measurement, PLANS.md round 7). */
  def curationDecisions(docs: DataFrame, idCol: String, textCol: String,
                        declaredLang: Column, isBenchmark: Column,
                        n: Int = 3, minFamiliarityPpm: Long = 100000L): DataFrame = {
    val base = docs
      .withColumn("is_bench", coalesce(isBenchmark, lit(false)))
      .withColumn("lang_decl", declaredLang)
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
      .withColumn("pred_lang",
        when(hasCjk(col(textCol)), "zh")
          .when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") &&
            col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
          .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es") &&
            col("hits_de") > 0, "de")
          .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
          .when(col("hits_es") > 0, "es")
          .otherwise("unknown"))
      .withColumn("lang_ok", col("pred_lang") === col("lang_decl"))
      .withColumn("canonical",
        col(idCol) === min(col(idCol)).over(Window.partitionBy(md5(col(textCol)))))
      .select(col(idCol), col("is_bench"), col("n_tokens"), col("quality_ok"),
        col("lang_ok"), col("canonical"))
    val contam = decontaminate(docs, idCol, textCol, isBenchmark, n)
      .select(col(idCol), col("contaminated"))
    val familiar = graft.operators.VocabOps.lmFamiliarity(docs, idCol, textCol, 2)
      .select(col(idCol), col("familiarity_ppm"))
    base
      .join(contam, Seq(idCol), "left")
      .join(familiar, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("familiarity_ppm", coalesce(col("familiarity_ppm"), lit(0L)))
      .withColumn("familiar_ok", col("familiarity_ppm") >= minFamiliarityPpm)
      .withColumn("keep",
        !col("is_bench") && col("canonical") && col("quality_ok") &&
          col("lang_ok") && !col("contaminated") && col("familiar_ok"))
      .withColumn("reason",
        when(col("is_bench"), "benchmark")
          .when(!col("canonical"), "exact_dup")
          .when(!col("quality_ok"), "low_quality")
          .when(!col("lang_ok"), "lang_mismatch")
          .when(col("contaminated"), "contaminated")
          .when(!col("familiar_ok"), "unfamiliar")
          .otherwise("keep"))
      .select(col(idCol), col("n_tokens"), col("quality_ok"), col("lang_ok"),
        col("canonical"), col("contaminated"), col("familiarity_ppm"),
        col("keep"), col("reason"))
  }

  /** The keep/drop materialization of near-dup clustering: every document
    * labeled with its canonical representative (its cluster's min id, or
    * itself when unclustered) and whether it survives dedup. `labels` is
    * a (id, comp, n_members) frame — q35's connected-components output —
    * left-joined so the full corpus passes through once.
    *
    * Scale: one equi-join on id against the (small) cluster-label side;
    * broadcast when the near-dup rate is low, shuffle-join otherwise. */
  def dedupApply(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame =
    docs
      .join(labels.select(col("id").as(idCol), col("comp"), col("n_members")),
        Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("comp"), col(idCol)))
      .withColumn("cluster_size", coalesce(col("n_members"), lit(1L)))
      .withColumn("kept", col("canonical_id") === col(idCol))
      .select(col(idCol), col("canonical_id"), col("cluster_size"), col("kept"))

  /** Lower-cased host of a URL — scheme, userinfo, port, and path
    * stripped by one regex in the Java-regex ∩ RE2 common dialect, so
    * the DuckDB oracle extracts the identical host. Non-URLs yield the
    * empty string (Spark's regexp_extract convention on no-match). */
  val UrlHostPattern = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, UrlHostPattern, 1))

  /** URL CANONICALIZATION (the RefinedWeb URL-dedup normalization):
    * lowercase the scheme://host prefix (never the path — case is
    * significant there), strip the `#fragment`, strip the SCHEME'S OWN
    * default port (`:80` after `http://`, `:443` after `https://` —
    * never cross-scheme: `http://h:443/x` is a different resource from
    * `http://h/x`), and remove tracking query parameters
    * (`utm_*`, `fbclid`, `gclid`) with separator repair — so
    * `HTTPS://Ex.com:443/P?utm_s=x&id=2#top` and
    * `https://ex.com/P?id=2` canonicalize identically. Pure chained
    * codegen'd regex in the Java-regex ∩ RE2 common dialect (the
    * DuckDB oracle replays the identical passes); zero shuffles. */
  def canonicalizeUrl(url: Column): Column = {
    // 1. fragment off first (params before it must not see '#')
    val noFrag = regexp_replace(url, "#.*$", "")
    // 2. tracking params: mid/list '&k=v' drops; leading '?k=v&' hands
    //    the '?' to the next param; a lone '?k=v' tail drops whole
    val t = "(?:utm_[A-Za-z0-9_]*|fbclid|gclid)"
    val noTrack = regexp_replace(regexp_replace(regexp_replace(noFrag,
      s"&$t=[^&]*", ""), s"\\?$t=[^&]*&", "?"), s"\\?$t=[^&]*$$", "")
    // 3. default ports off the authority — SCHEME-AWARE: :80 is default
    //    only for http and :443 only for https (http://h:443/x and
    //    https://h:80/x are DIFFERENT resources from their portless
    //    forms and must not merge). The http pass cannot fire on an
    //    https URL: both are ^-anchored and "https" has an extra 's'
    //    where the http pattern requires "://".
    val noPort = regexp_replace(regexp_replace(noTrack,
      "^([Hh][Tt][Tt][Pp]://[^/:?#]+):80([/?#]|$)", "$1$2"),
      "^([Hh][Tt][Tt][Pp][Ss]://[^/:?#]+):443([/?#]|$)", "$1$2")
    // 4. lowercase scheme://host (authority ends at /, ?, or #)
    val prefix = regexp_extract(noPort, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    concat(lower(prefix), substring(noPort, length(prefix) + 1, lit(1 << 30)))
  }

  /** URL-level dedup over canonical forms: one row per document with its
    * canonical URL and `kept` = is this the group's FIRST document (min
    * id) — the RefinedWeb pre-pass that removes exact re-crawls before
    * any content hashing. One map-side-combinable min per canonical URL
    * + a broadcastable-or-shuffled equi-join back; no hot keys beyond a
    * genuinely re-crawled URL's own row count. */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = docs.select(col(idCol), canonicalizeUrl(col(urlCol)).as("url_canonical"))
    val winners = canon.groupBy(col("url_canonical"))
      .agg(min(col(idCol)).as("_win"))
      .select(col("url_canonical").as("_wurl"), col("_win"))
    canon.join(winners, col("url_canonical") === col("_wurl"), "left")
      .select(col(idCol), col("url_canonical"),
        (col(idCol) === col("_win")).as("kept"))
  }

  /** URL/domain filtering (the RefinedWeb-style blocklist pass): each
    * document's host is extracted, matched against `blocked` —
    * REGISTRABLE-domain semantics: a block on `example.com` also blocks
    * `a.b.example.com`, never `notexample.com` — and the decision table
    * (host, matched blocking domain, keep flag) is returned per
    * document. The blocklist is a literal list folded into the plan
    * (codegen'd per-row suffix tests, zero shuffles at any scale); a
    * table-sized blocklist would broadcast-join on the reversed-host
    * prefix instead — this is the common small-list case. */
  def domainFilter(docs: DataFrame, idCol: String, urlCol: String,
                   blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "domainFilter: empty blocklist")
    require(blocked.forall(d => d.nonEmpty && d == d.toLowerCase && !d.contains("/")),
      s"domainFilter: blocklist entries must be bare lower-case domains, got $blocked")
    val host = urlHost(col(urlCol))
    val matched = blocked.foldLeft(lit(null).cast("string")) { (acc, d) =>
      coalesce(acc, when(host === lit(d) || host.endsWith(lit("." + d)), lit(d)))
    }
    docs.select(col(idCol), host.as("host"), matched.as("blocked_by"),
      matched.isNull.as("kept"))
  }

  /** Gopher/FineWeb-style REPETITION quality signals — the curation
    * filters (Rae et al. 2021 §A1.1) that kill template/boilerplate
    * documents which per-line dedup alone misses: per document,
    *   - `n_lines` and the fraction of (non-blank) lines whose content
    *     occurs ≥2× within the document (`frac_dup_lines`), plus the
    *     character-mass version (`frac_dup_line_chars`);
    *   - `frac_bullet_lines` / `frac_ellipsis_lines` (lines starting
    *     with a bullet / ending with an ellipsis);
    *   - `frac_top_{2,3,4}gram_chars`: characters covered by the MOST
    *     FREQUENT word n-gram (count × n-gram length / text length);
    *     count ties resolve to the larger coverage, packed into one
    *     integer key (`cnt·10¹² + coverage`, exact: coverage < 10¹² at
    *     any real document size) so both engines break ties
    *     identically;
    *   - `frac_dup_{5..10}gram_chars`: characters covered by ALL word
    *     n-grams occurring ≥2× (Σ over duplicated grams of
    *     count × length / text length — the Rae et al. duplicate-n-gram
    *     character fractions; overlapping occurrences each count, the
    *     standard simplification, so the fraction can exceed 1 on
    *     degenerate repetition — filters threshold well below that).
    * All fractions are 0 on empty denominators. `topNs`/`dupNs` select
    * the computed sizes (and therefore the output columns) — the cost
    * is proportional to Σ sizes, so callers needing only the classic
    * 2/3-gram coverage pass those alone. Scale: per-document
    * aggregations keyed by (doc, line) / (doc, size, n-gram) — map-side
    * combinable, state bounded by a document's own content; ALL
    * requested n-gram sizes ride ONE explode → ONE shuffle (the size is
    * part of the grouping key), then pivot back to columns; one final
    * per-doc join fan-in. Zero corpus-wide hot keys. */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String,
                    topNs: Seq[Int] = TopNs, dupNs: Seq[Int] = DupNs): DataFrame = {
    import graft.functions.TextFunctions.{tokens, wordShingles}
    require(topNs.nonEmpty || dupNs.nonEmpty, "gopherSignals: no n-gram sizes")
    require((topNs ++ dupNs).forall(n => n >= 1 && n <= 64),
      s"gopherSignals: n-gram sizes out of range: ${(topNs ++ dupNs).distinct}")
    val sizes = (topNs ++ dupNs).distinct
    val id = col(idCol)
    val base = docs.select(id.as("_id"), length(col(textCol)).as("_tlen"),
      col(textCol).as("_text"))

    val lines = base.select(col("_id"), explode(split(col("_text"), "\n")).as("_ln"))
      .filter(trim(col("_ln")) =!= "")
    val perLine = lines.groupBy(col("_id"), col("_ln")).agg(count(lit(1)).as("_n"))
    // aggregate outputs keep the lineage of base's _id — rename every
    // side's key apart so the fan-in joins are unambiguous equi-joins,
    // never the same-exprId self-join trap
    val lineSig = perLine.select(col("_id").as("_idl"), col("_ln"), col("_n"))
      .groupBy(col("_idl")).agg(
      sum(col("_n")).as("_nl"),
      sum(when(col("_n") >= 2, col("_n")).otherwise(0L)).as("_dl"),
      sum(col("_n") * length(col("_ln"))).as("_lc"),
      sum(when(col("_n") >= 2, col("_n") * length(col("_ln"))).otherwise(0L)).as("_dc"),
      sum(when(trim(col("_ln")).startsWith("-") || trim(col("_ln")).startsWith("*") ||
        trim(col("_ln")).startsWith("•"), col("_n")).otherwise(0L)).as("_bl"),
      sum(when(trim(col("_ln")).endsWith("...") || trim(col("_ln")).endsWith("…"),
        col("_n")).otherwise(0L)).as("_el"))

    // every size's shingles in ONE pass: tag each gram with its size,
    // flatten, and let the size ride the grouping key
    val toks = base.select(col("_id"), tokens(col("_text")).as("_tk"))
    val gramArrays = array(sizes.map(n =>
      transform(wordShingles(col("_tk"), n),
        g => struct(lit(n).as("_sz"), g.as("_g")))): _*)
    val cnts = toks.select(col("_id"), explode(flatten(gramArrays)).as("_s"))
      .select(col("_id"), col("_s._sz").as("_sz"), col("_s._g").as("_g"))
      .groupBy(col("_id"), col("_sz"), col("_g")).agg(count(lit(1)).as("_cnt"))
    val ngramSig = cnts.groupBy(col("_id"), col("_sz")).agg(
      (max(col("_cnt") * lit(1000000000000L) + col("_cnt") * length(col("_g")))
        % lit(1000000000000L)).as("top"),
      sum(when(col("_cnt") >= 2, col("_cnt") * length(col("_g"))).otherwise(0L)).as("dup"))
      .groupBy(col("_id")).pivot("_sz", sizes)
      .agg(first(col("top")).as("top"), first(col("dup")).as("dup"))
      .withColumnRenamed("_id", "_idg")

    def frac(num: Column, den: Column): Column =
      when(coalesce(den, lit(0L)) === 0L, lit(0d))
        .otherwise(num.cast("double") / den.cast("double"))

    base.join(lineSig, col("_id") === col("_idl"), "left").drop("_idl")
      .join(ngramSig, col("_id") === col("_idg"), "left").drop("_idg")
      .select(Seq(col("_id").as(idCol),
        coalesce(col("_nl"), lit(0L)).as("n_lines"),
        frac(coalesce(col("_dl"), lit(0L)), col("_nl")).as("frac_dup_lines"),
        frac(coalesce(col("_dc"), lit(0L)), col("_lc")).as("frac_dup_line_chars"),
        frac(coalesce(col("_bl"), lit(0L)), col("_nl")).as("frac_bullet_lines"),
        frac(coalesce(col("_el"), lit(0L)), col("_nl")).as("frac_ellipsis_lines")) ++
        topNs.map(n => frac(coalesce(col(s"${n}_top"), lit(0L)), col("_tlen"))
          .as(s"frac_top_${n}gram_chars")) ++
        dupNs.map(n => frac(coalesce(col(s"${n}_dup"), lit(0L)), col("_tlen"))
          .as(s"frac_dup_${n}gram_chars")): _*)
  }

  /** The Gopher n-gram size split: most-frequent-gram coverage for
    * 2..4, all-duplicated-gram coverage for 5..10 (Rae et al. §A1.1). */
  private[graft] val TopNs: Seq[Int] = 2 to 4
  private[graft] val DupNs: Seq[Int] = 5 to 10

  /** PII patterns shared by [[piiScrub]] and its DuckDB oracle — written
    * in the Java-regex ∩ RE2 common dialect (no backreferences, no
    * lookaround) so both engines match the same spans.
    *
    * IPv4 octets are RANGE-CHECKED (0-255): `999.999.999.999` is not an
    * address and must not inflate `n_ips` (the counts feed curation
    * decisions). The `\b` boundaries deliberately still match the first
    * four octets inside a longer dotted string (`1.2.3.4.5` →
    * `<IP>.5`): rejecting that requires consuming a context character
    * (RE2 has no lookaround), which would make the SECOND of two
    * IPs separated by one character invisible — under-masking PII to
    * avoid over-masking version strings is the wrong trade. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val Ipv4Pattern  = s"\\b$Ipv4Octet(?:\\.$Ipv4Octet){3}\\b"
  val PhonePattern = "\\+\\d[\\d ()-]{6,}\\d"

  /** PII scrubbing (the Dolma/CCNet-style masking pass): emails, IPv4
    * addresses, and international-format phone numbers are replaced with
    * fixed tokens, with per-class occurrence counts (counted on the
    * ORIGINAL text, so the classes are independent of scrub order; the
    * scrub itself applies email → ip → phone, and no replacement token
    * can create a later-class match). Pure per-row codegen'd regex —
    * embarrassingly parallel, zero shuffles, scales linearly at 100 TB.
    *
    * Detection is pattern-based (the standard first pass); an NER-model
    * pass would ride [[Multimodal]]-style partition-wise inference. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      regexp_replace(regexp_replace(regexp_replace(t,
        EmailPattern, "<EMAIL>"), Ipv4Pattern, "<IP>"), PhonePattern, "<PHONE>")
        .as("text_clean"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(t, lit(PhonePattern), lit(0))).cast("long").as("n_phones"))
  }

  /** C4-style cross-corpus LINE deduplication: every non-blank line that
    * occurs anywhere else in the corpus is kept only at its FIRST
    * occurrence (ordered by document id, then line position — total and
    * deterministic), all later occurrences are cut, and each document's
    * text is rebuilt from its surviving lines. Blank/whitespace-only
    * lines never participate (they are always kept): that is C4's rule,
    * and it also keeps the empty string — the one unboundedly-hot key —
    * out of the shuffle.
    *
    * Scale: one explode + one partial-aggregating shuffle keyed by line
    * content for the first occurrence, one equi-join on the unique
    * (line, id, pos) triple to mark it, one shuffle back by document id
    * for the rebuild. The first occurrence is `min(struct(_id, _pos))` —
    * map-side COMBINABLE, so a boilerplate line occurring 10⁹ times at
    * 100 TB collapses to one row per map task before the shuffle instead
    * of sorting in a single window partition (the hot-key hazard a
    * `row_number` window would carry: every occurrence of one line in
    * one task). The join back is keyed by the full occurrence triple —
    * unique per row, so no hot key exists there either; the rebuild's
    * collect_list is bounded by a document's own line count. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("_id"), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_ln")))
    val blanks = exploded.filter(trim(col("_ln")) === "")
    val nonBlank = exploded.filter(trim(col("_ln")) =!= "")
    // struct ordering is lexicographic by field, so min(struct(_id,_pos))
    // IS "order by _id, _pos" — total and deterministic
    val winners = nonBlank.groupBy(col("_ln"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
      .select(col("_ln").as("_wln"), col("_w")("_id").as("_wid"),
        col("_w")("_pos").as("_wpos"))
    val kept = nonBlank
      .join(winners, col("_ln") === col("_wln") &&
        col("_id") === col("_wid") && col("_pos") === col("_wpos"), "leftsemi")
      .unionByName(blanks)
    val rebuilt = kept.groupBy(col("_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("_pos"), col("_ln")))),
          x => x("_ln")), "\n").as("_text"),
        count(lit(1)).as("_n"))
    docs.select(col(idCol))
      .join(rebuilt, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("_text"), lit("")).as("text_dedup"),
        coalesce(col("_n"), lit(0L)).as("n_lines_kept"))
  }
}
