package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Checkpoints.CheckpointOps

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Determinism policy: embeddings are quantized to exact integer micro-units
  * (`round(x * 1e6)::long`), so dot products are exact int64 arithmetic and
  * cosine = dot / (sqrt(n1) * sqrt(n2)) is a fixed IEEE op sequence —
  * bit-identical in any engine, which makes top-k ranking (and the DuckDB
  * oracle hash) stable. 64-dim × 1e6 quantization keeps dots ≤ ~6.4e13,
  * far inside int64.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact top-k per query against all candidates —
  *    the correctness baseline; O(|Q|·|C|), fine for small query sets.
  *  - [[lshTopK]]: random-hyperplane LSH — each vector gets a sign-bit
  *    signature from `nPlanes` deterministic integer hyperplanes; only
  *    same-bucket pairs are scored. The 100 TB path: candidate generation
  *    is an equi-join on the signature, no cross product.
  */
object Similarity {

  /** Adds `qvec` (quantized int64 vector) and `qnorm2` (exact squared norm).
    * Value-range bound (round-7 audit, PLANS.md): the int64 dot/norm sums
    * dims × (1e6·|x|)² — safe to |x| <= ~47 at 4096 dims; unit-normalized
    * embeddings (|x| <= 1) have three orders of magnitude of headroom. */
  def quantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("qvec", transform(col(vecCol), x => round(x.cast("double") * 1000000.0d).cast("long")))
      .withColumn("qnorm2", qdot(col("qvec"), col("qvec")))

  /** Exact int64 dot product of two quantized vectors — native codegen'd
    * expression ([[graft.functions.VectorExprs.DotLongArrays]]). */
  def qdot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotQ(a, b)

  /** Deterministic cosine from exact integers (single IEEE op sequence). */
  def qcos(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  /** Exact cosine top-k: for each query vector (filtered by `isQuery`),
    * the k nearest candidates by quantized cosine, ties broken by id.
    *
    * This is the deliberate O(|Q|·|C|) exactness BASELINE — the product
    * is gated: the query side must hold at most `maxQueries` rows
    * (checked with a bounded `limit(n+1).count()`, so the check itself
    * never scans more than n+1 rows) and is then BROADCAST, making the
    * "cross join" a map-side nested loop over the corpus: no corpus
    * shuffle, scale-bounded by maxQueries. Large query sets must use
    * [[lshTopK]] or [[ivfTopK]] — this fails loudly instead of silently
    * exploding. The scored product is ranked by the bounded max-k
    * aggregate ([[graft.agg.BoundedTopKCosAgg]]) rather than a rank
    * window, so nothing of the |Q|·|C| product is ever sorted or
    * shuffled — each partition ships ≤ k entries per query. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     isQuery: Column, k: Int, maxQueries: Int = 10000): DataFrame = {
    val q = quantized(df, vecCol)
    val queries = q.filter(isQuery)
      .select(col(idCol).as("query_id"), col("qvec").as("qv"), col("qnorm2").as("qn"))
    val nQueries = queries.limit(maxQueries + 1).count()
    require(nQueries <= maxQueries,
      s"bruteForceTopK is the O(|Q|*|C|) exact baseline: query side exceeds " +
        s"maxQueries=$maxQueries rows - use lshTopK or ivfTopK for large query sets")
    val cands = q.select(col(idCol).as("cand_id"), col("qvec").as("cv"), col("qnorm2").as("cn"))
    val scored = broadcast(queries)
      .crossJoin(cands)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot", qdot(col("qv"), col("cv")))
      .withColumn("cos", qcos(col("dot"), col("qn"), col("cn")))
    // Ranking via the bounded max-k aggregate, NOT a rank window: the
    // window formulation shuffles and sorts all |Q|·|C| scored rows;
    // the aggregate combines map-side (≤ k entries per query per
    // partition cross the shuffle, nothing globally sorted), which is
    // what lets the exact path run over the full corpus. Ordering —
    // cos DESC (NaN first), cand_id ASC — matches the window's exactly
    // (parity- and NaN-spec-pinned).
    scored
      .groupBy(col("query_id"))
      .agg(graft.agg.NativeTopK
        .maxCosK(k, col("cos"), col("cand_id"), col("dot")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"), col("e.dot").as("dot"),
        floor(col("e.cos") * 1000000.0d).cast("long").as("cos_ppm"))
  }

  /** Embedding-cosine near-duplicate pairs (the dedup variant of ANN):
    * candidates from same-signature LSH buckets, kept when quantized
    * cosine >= `minCosPpm` / 1e6. Candidate generation is the bucket
    * equi-join — never an all-pairs product, and no per-query ranking
    * window: pair emission is a pure filter, so the only wide ops are
    * the signature bucket shuffle (reused on both join sides). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            minCosPpm: Long, nPlanes: Int, dims: Int): DataFrame = {
    val sig = withSignature(df, idCol, vecCol, nPlanes, dims)
    val a = sig.select(col("sig"), col("id").as("id1"), col("qvec").as("qv"), col("qnorm2").as("qn"))
    val b = sig.select(col("sig"), col("id").as("id2"), col("qvec").as("cv"), col("qnorm2").as("cn"))
    a.join(b, Seq("sig"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", qcos(qdot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("cos_ppm", floor(col("cos") * 1000000.0d).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .select(col("id1"), col("id2"), col("cos_ppm"))
  }

  /** IVF-style ANN (inverted-file index, nprobe=1): a small deterministic
    * centroid set partitions the corpus into cells; each vector is assigned
    * to its nearest centroid (exact quantized cosine, ties to the lower
    * centroid id); queries search only their own cell. The centroid
    * "training" step is stubbed as `isCentroid` selection — production
    * k-means would feed the same assignment expression. Zero-norm vectors
    * carry no cosine and are excluded (the family rule).
    *
    * Scale (round 9): assignment is the codegen'd literal-centroid-matrix
    * argmax ([[graft.functions.VectorExprs.nearestCell]]) — one narrow
    * projection, replacing the earlier broadcast-cross-join + per-id rank
    * window, which shuffled corpus × ncents rows just to argmax over
    * them. Candidate generation is the `cell` equi-join; ranking is the
    * bounded max-k aggregate (nothing sorted, ≤ k per query crosses the
    * shuffle). */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              isCentroid: Column, isQuery: Column, k: Int,
              maxCentroids: Int = 4096): DataFrame = {
    val q = quantized(df, vecCol).filter(col("qnorm2") > 0L)
    val cents = collectCents(q, idCol, isCentroid, maxCentroids, "ivfTopK")
    val assigned = q.withColumn("cell",
      graft.functions.VectorExprs.nearestCell(col("qvec"), col("qnorm2"), cents))
    val queries = assigned.filter(isQuery)
      .select(col(idCol).as("query_id"), col("cell"),
        col("qvec").as("qv"), col("qnorm2").as("qn"))
    val cands = assigned.select(col(idCol).as("cand_id"), col("cell"),
      col("qvec").as("cv"), col("qnorm2").as("cn"))
    queries
      .join(cands, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot", qdot(col("qv"), col("cv")))
      .withColumn("cos", qcos(col("dot"), col("qn"), col("cn")))
      .groupBy(col("query_id"), col("cell"))
      .agg(graft.agg.NativeTopK
        .maxCosK(k, col("cos"), col("cand_id"), col("dot")).as("topk"))
      .select(col("query_id"), col("cell"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("cell"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"),
        floor(col("e.cos") * 1000000.0d).cast("long").as("cos_ppm"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    * the corpus into cells via a small centroid set, then mark a vector a
    * semantic duplicate when ANOTHER member of ITS OWN cell with a lower
    * id has quantized cosine >= `minCosPpm`/1e6 — "near-identical
    * meaning, keep the first". Output per vector: its cell, the count of
    * lower-id near neighbors, and the keep flag. Zero-norm vectors (no
    * cosine) are excluded from both sides and from the output.
    *
    * Scale: this is exactly the paper's reason for clustering first — the
    * pairwise check runs WITHIN cells only (an equi-join on `cell`),
    * never corpus-wide. With k centroids ~ sqrt(N), cells average
    * sqrt(N) members, so candidate pairs are O(N * sqrt(N) / 1) per cell
    * — bounded, and k is a knob: raise it and cells (and the join
    * fan-out) shrink. Centroids are gated driver-side model state;
    * assignment is the codegen'd literal-matrix argmax (one narrow
    * projection, zero shuffles); the assigned cell index is materialized
    * once (localCheckpoint — it feeds both self-join sides and the final
    * projection; at cluster scale persist it, it IS the IVF index). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               isCentroid: Column, minCosPpm: Long,
               maxCentroids: Int = 1 << 16,
               maxCellSize: Long = 1L << 20): DataFrame = {
    // zero-norm vectors have no cosine (NaN, which Spark sorts ABOVE every
    // double — one zero-norm centroid would swallow the whole corpus into
    // its cell and turn the within-cell check into a corpus self-join);
    // they are dropped on both sides, as in kmeansTrain
    val q = quantized(df, vecCol).filter(col("qnorm2") > 0L)
    // centroids are driver-side model state gated by collectCents (the
    // maxSeeds/maxBenchDocs pattern); assignment is the codegen'd
    // literal-matrix argmax — one narrow projection, replacing the
    // earlier cross-join + per-id rank window that shuffled
    // corpus × ncents rows (round 9, same swap as ivfTopK)
    val cents = collectCents(q, idCol, isCentroid, maxCentroids, "semDedup")
    val assigned = q
      .select(col(idCol).as("id"),
        graft.functions.VectorExprs.nearestCell(col("qvec"), col("qnorm2"), cents).as("cell"),
        col("qvec"), col("qnorm2"))
      .stageCheckpoint()
    // cell-skew audit: the within-cell join is quadratic PER CELL, so its
    // safety rests on the centroids spreading the corpus — a pathological
    // (but nonzero-norm) centroid set can still concentrate everything
    // into one cell. Audit the biggest cell off the just-materialized
    // index (map-side combined to <= nCents rows per partition, one cheap
    // job) and fail loudly before the join, the gate pattern.
    val biggestCell = {
      val r = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head()
      Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    require(biggestCell <= maxCellSize,
      s"semDedup: largest cell has $biggestCell members > maxCellSize=$maxCellSize - " +
        "the within-cell pair check is quadratic per cell; supply more (or " +
        "better-spread) centroids, or raise maxCellSize if the quadratic cost " +
        "is truly intended")
    val a = assigned.select(col("cell"), col("id"), col("qvec").as("qv"), col("qnorm2").as("qn"))
    val b = assigned.select(col("cell"), col("id").as("id2"), col("qvec").as("cv"), col("qnorm2").as("cn"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("id2") < col("id"))
      .withColumn("cos_ppm",
        floor(qcos(qdot(col("qv"), col("cv")), col("qn"), col("cn")) * 1000000.0d).cast("long"))
      .filter(col("cos_ppm") >= minCosPpm)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_near"))
    assigned
      .select(col("id"), col("cell"))
      .join(dups, Seq("id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("kept", col("n_near") === 0L)
      .select(col("id").as(idCol), col("cell"), col("n_near"), col("kept"))
  }

  /** Lloyd k-means over quantized embeddings — the real "train the IVF
    * coarse quantizer" step that [[ivfTopK]]'s `isCentroid` stub stands in
    * for. Exact-integer determinism throughout: assignment is quantized
    * cosine (ties to the lower cell id), the centroid update is the
    * truncating integer mean `sum div count` per dimension (identical to
    * DuckDB's `//`), so every iteration — and therefore the final
    * assignment — is bit-reproducible on any engine or cluster layout.
    *
    * Output after `iters` update rounds: one row per surviving cell with
    * its member count, the centroid's exact squared norm, and the exact
    * sum of member cosines in ppm (the inertia-style convergence metric).
    *
    * Scale: the per-iteration driver collect is the k×dims centroid
    * MATRIX (model state, same as Spark MLlib's KMeans), never data rows.
    * Assignment is a narrow argmax against the broadcast-literal centroid
    * matrix — no join, no shuffle; the update is one posexplode +
    * (cell, dim) aggregation, map-side combined. One shuffle per
    * iteration at any corpus size. Cells that lose all members (or
    * truncate to a zero centroid) drop out deterministically.
    *
    * Three assignment paths, identical semantics (parity-spec'd). The
    * DEFAULT (round 7 late) is the native codegen'd
    * `NearestCellLongArrays` argmax — one compiled loop per row over the
    * reference-object centroid matrix, with cos recomputed via one dot
    * against the chosen centroid (pruned away in update rounds). The two
    * Column-DSL paths below remain for A/B via `nativeAssign = false`:
    * above `codegenMaxK` centroids — and by DEFAULT, at any k — the
    * centroids become ONE literal matrix and the argmax a single
    * `aggregate` fold over it, narrow and shuffle-free (unlike a
    * broadcast-join argmax, which would shuffle the corpus on id every
    * iteration for the tie-break window). The unrolled per-centroid
    * `array_max` variant (k inline dot+struct expressions, engaged by
    * raising `codegenMaxK`) was presumed the codegen fast path but
    * MEASURED SLOWER at every k at sf0.1 — 0.77 vs 0.56 s at k=16, 3.9
    * vs 0.97 s at k=128 (PLANS.md round 7; the k-fold generated method grows
    * past the whole-stage-codegen method ceiling while the fold keeps
    * one tight DotLongArrays loop) — so the fold is the default and the
    * unrolled path is retained for A/B and the parity spec.
    *
    * The seed collect is bounded: more than `maxSeeds` seed rows fail
    * loudly instead of collecting a corpus onto the driver (k-means k is
    * model state — IVF-realistic k is ~sqrt(N), thousands, not millions).
    *
    * Value-range bound (round-7 audit, PLANS.md): the update's per-(cell,
    * dim) int64 sum is members × max|qvec| — safe to ~9e11 members per
    * cell for |x| <= 10; the per-cell `sum_cos_ppm` to ~9e12 members.
    * This is the same cell sum every engine's k-means computes, so the
    * bound is documented rather than gated. */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String,
                  isSeed: Column, iters: Int,
                  maxSeeds: Int = 4096, codegenMaxK: Int = 0,
                  nativeAssign: Boolean = true): DataFrame = {
    val q = quantized(df, vecCol)
      .select(col(idCol).cast("long").as("id"), col("qvec"), col("qnorm2"))

    def norm2(v: Seq[Long]): Long = v.map(x => x * x).sum

    // assignment frame: best (cell, cos) per vector. Default path (round
    // 7 late): the codegen'd NearestCellLongArrays argmax — one compiled
    // loop per row — then cos recomputed with ONE dot against the chosen
    // centroid (literal maps; same IEEE sequence, so values are
    // identical; Catalyst prunes the cos column in the update rounds,
    // which only read `cell`). The fold/unrolled formulations are kept
    // for A/B (`nativeAssign = false`; parity spec-pinned): the fold
    // runs the interpreted-HOF k-entry loop per row — the PQ lesson's
    // ~1 ms/row class of cost at corpus scale.
    def assignedNative(cents: Seq[(Long, Seq[Long])]): DataFrame = {
      val trip = cents.map { case (cid, cv) => (cid, cv, norm2(cv)) }
      val vecMap = typedlit(cents.toMap)
      val normMap = typedlit(trip.map { case (cid, _, cn) => cid -> cn }.toMap)
      q.filter(col("qnorm2") > 0L)
        .withColumn("cell",
          graft.functions.VectorExprs.nearestCell(col("qvec"), col("qnorm2"), trip))
        .withColumn("cos",
          qcos(qdot(col("qvec"), element_at(vecMap, col("cell"))),
            col("qnorm2"), element_at(normMap, col("cell"))))
        .select(col("id"), col("qvec"), col("cell"), col("cos"))
    }

    // lexicographic max over struct(cos, -cell) — NaN-free because
    // zero-norm centroids are dropped before the literal is built
    def assignedFold(cents: Seq[(Long, Seq[Long])]): DataFrame = {
      val best =
        if (cents.size <= codegenMaxK) {
          // unrolled per-centroid expressions: tight whole-stage codegen
          array_max(array(cents.map { case (cid, cv) =>
            val cos = qcos(qdot(col("qvec"), typedlit(cv)), col("qnorm2"), lit(norm2(cv)))
            struct(cos.as("cos"), lit(-cid).as("negc"))
          }: _*))
        } else {
          // large k: one literal centroid matrix + a single fold — no
          // unrolled codegen (method-size safe), still narrow/no-shuffle
          val mat = typedlit(cents.map { case (cid, cv) => (cid, cv, norm2(cv)) })
          aggregate(
            mat,
            struct(lit(-2.0d).as("cos"), lit(Long.MinValue).as("negc")),
            (acc, c) => {
              val cos = qcos(qdot(col("qvec"), c.getField("_2")), col("qnorm2"), c.getField("_3"))
              val cand = struct(cos.as("cos"), (-c.getField("_1")).as("negc"))
              when(cand > acc, cand).otherwise(acc)
            })
        }
      q.filter(col("qnorm2") > 0L)
        .withColumn("best", best)
        .withColumn("cell", -col("best.negc"))
        .withColumn("cos", col("best.cos"))
        .select(col("id"), col("qvec"), col("cell"), col("cos"))
    }

    def assigned(cents: Seq[(Long, Seq[Long])]): DataFrame =
      if (nativeAssign) assignedNative(cents) else assignedFold(cents)

    // seed centroids: the designated rows' quantized vectors (model init);
    // the limit bounds the collect itself, so the gate never scans far
    // past the ceiling
    val seedRows = q.filter(isSeed)
      .select(col("id"), col("qvec"))
      .limit(maxSeeds + 1)
      .collect()
    require(seedRows.length <= maxSeeds,
      s"kmeansTrain: isSeed selects more than maxSeeds=$maxSeeds rows - seeds are " +
        "collected to the driver as model state; a seed set this large suggests a " +
        "mislabeled predicate")
    var cents: Seq[(Long, Seq[Long])] = seedRows
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toSeq.sortBy(_._1).filter(c => norm2(c._2) > 0L)
    require(cents.nonEmpty,
      "kmeansTrain: no usable seeds (isSeed matched nothing, or every seed has zero norm)")

    for (_ <- 1 to iters) {
      // truncating integer mean per (cell, dim); collect is k×dims longs
      val next = assigned(cents)
        .select(col("cell"), posexplode(col("qvec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(graft.functions.TextFunctions.intDiv(sum(col("x")), count(lit(1))).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (cid, rows) => cid -> rows.sortBy(_._2).map(_._3).toSeq }
        .toSeq.sortBy(_._1).filter(c => norm2(c._2) > 0L)
      require(next.nonEmpty,
        "kmeansTrain: every centroid truncated to zero norm in an update round")
      cents = next
    }

    val normMap = typedlit(cents.map { case (cid, cv) => cid -> norm2(cv) }.toMap)
    assigned(cents)
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(floor(col("cos") * 1000000.0d).cast("long")).as("sum_cos_ppm"))
      .withColumn("cent_norm2", element_at(normMap, col("cell")))
      .select(col("cell"), col("n_vectors"), col("cent_norm2"), col("sum_cos_ppm"))
  }

  /** Per-subspace product-quantization codebooks from designated code
    * rows: for each of the `m` subspaces, the (code_id, sub-vector,
    * sub-norm²) entries — collected driver-side as model state (the
    * kmeans-seed pattern: a PQ codebook is k×dims longs, never data). */
  private[operators] def pqCodebooks(q: DataFrame, idCol: String, m: Int, dims: Int,
                          maxCodes: Int): IndexedSeq[Seq[(Long, Seq[Long], Long)]] = {
    require(dims % m == 0, s"pq: dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    val codeRows = q.select(col(idCol).cast("long").as("id"), col("qvec"))
      .limit(maxCodes + 1)
      .collect()
    require(codeRows.length <= maxCodes,
      s"pq: isCode selects more than maxCodes=$maxCodes rows - PQ codebooks are " +
        "driver-side model state (k entries per subspace); a code set this large " +
        "suggests a mislabeled predicate")
    require(codeRows.nonEmpty, "pq: isCode matched no rows - no codebook to train")
    val entries = codeRows
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1)
    (0 until m).map { s =>
      entries.toSeq.map { case (cid, v) =>
        val cv = v.slice(s * sub, (s + 1) * sub)
        (cid, cv, cv.map(x => x * x).sum)
      }
    }
  }

  /** Per-subspace Lloyd k-means refinement of PQ codebooks — the step
    * Jégou et al. 2011 (§II-C) actually prescribe ("the codebooks are
    * learned by k-means in each subspace"); the designated-row books are
    * only its init. Exact-integer determinism throughout, mirroring
    * [[kmeansTrain]]: assignment is the codegen'd all-subspace argmin
    * ([[pqCodesCol]], exact L2², ties to the lower code position ⇔ lower
    * init cid), the update the truncating integer mean `sum div count`
    * per (subspace, code, dim) — bit-reproducible on any engine.
    *
    * ONE Spark job per iteration covers ALL m subspaces: the encode pass
    * is narrow (literal codebooks, no join), the update one
    * (s, code, dim) aggregation — map-side combined to ≤ m·k·sub rows,
    * and the collect is the codebook MATRIX (model state, the kmeans
    * pattern), never data rows. Codebook entries keep their init cid as
    * identity across iterations; entries that lose every member drop out
    * deterministically (positions re-pack in cid order). */
  private[operators] def trainBooks(qvecs: DataFrame,
                         books0: IndexedSeq[Seq[(Long, Seq[Long], Long)]],
                         m: Int, sub: Int, iters: Int): IndexedSeq[Seq[(Long, Seq[Long], Long)]] = {
    import graft.functions.TextFunctions.intDiv
    var books = books0
    for (_ <- 1 to iters) {
      val updated = qvecs
        .withColumn("ce", pqCodesCol(toPosBooks(books), m, sub))
        .select(col("ce"), posexplode(col("qvec")).as(Seq("pos", "x")))
        .withColumn("s", floor(col("pos") / sub).cast("int"))
        .withColumn("p", col("ce")(col("s")))
        .withColumn("dim", pmod(col("pos"), lit(sub)))
        .groupBy(col("s"), col("p"), col("dim"))
        .agg(intDiv(sum(col("x")), count(lit(1))).as("mean"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).map(_._2).toSeq).toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.flatMap { case ((cid, _, _), p) =>
          updated.get((s, p.toLong)).map { v => (cid, v, v.map(x => x * x).sum) }
        }
      }
      require(books.forall(_.nonEmpty),
        "pq train: a subspace lost every codebook entry in an update round - " +
          "degenerate init (all vectors identical to one entry?)")
    }
    books
  }

  /** PQ codebook TRAINING report: run [[trainBooks]] for `iters` Lloyd
    * rounds from the `isInit` rows' sub-vectors, then one final encode
    * pass; output per surviving (subspace, code): member count and total
    * exact quantization error Σd² — the per-cluster inertia table that
    * pins the trained books (any book drift changes sum_err2). */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, isInit: Column,
              m: Int, dims: Int, iters: Int, maxCodes: Int = 4096): DataFrame = {
    val q = quantized(df, vecCol)
    val sub = dims / m
    val books0 = pqCodebooks(q.filter(isInit), idCol, m, dims, maxCodes)
    val books = trainBooks(q.select(col("qvec")), books0, m, sub, iters)
    val perS = (0 until m).map { s =>
      val cidLit = typedlit(books(s).map(_._1))
      struct(lit(s).cast("long").as("s"),
        element_at(cidLit, (element_at(col("ce"), s + 1) + 1L).cast("int")).as("code"),
        element_at(col("ce"), m + s + 1).as("err2"))
    }
    q.select(col("qvec"))
      .withColumn("ce", pqCodesCol(toPosBooks(books), m, sub))
      .select(explode(array(perS: _*)).as("e"))
      .groupBy(col("e.s").as("s"), col("e.code").as("code"))
      .agg(count(lit(1)).as("n_members"), sum(col("e.err2")).as("sum_err2"))
  }

  /** All m per-subspace argmin codes + errors in one codegen'd pass
    * ([[graft.functions.VectorExprs.PqCodesLongArray]]): array of 2m
    * longs — code POSITIONS in [0, m), exact d² in [m, 2m). An
    * `aggregate`-fold formulation was measured at ~1.2 ms/row (HOFs run
    * interpreted; PLANS.md round-7 ADC note) — the native expression is
    * the same arithmetic inside whole-stage codegen. */
  private[operators] def pqCodesCol(posBooks: IndexedSeq[Seq[(Long, Seq[Long], Long)]],
                         m: Int, sub: Int): Column =
    graft.functions.VectorExprs.pqCodes(col("qvec"), posBooks, m, sub)

  /** Product quantization encode (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * `dims`-dim quantized vector is split into `m` orthogonal subspaces;
    * each sub-vector is coded as its nearest codebook entry by exact
    * int64 squared L2 (ties to the lower code id). Output: one row per
    * (vector, subspace) with the chosen code and the exact quantization
    * error d² — the m-byte-per-vector compressed representation behind
    * billion-scale ANN indexes (IVF-PQ).
    *
    * Codebooks here come from designated rows (`isCode`, the q34
    * stub-centroid pattern); production trains them with per-subspace
    * k-means — [[kmeansTrain]] on the sliced column is that step.
    *
    * Scale: codebooks are driver-collected model state (gated by
    * `maxCodes`, the maxSeeds pattern); encoding is a narrow per-row
    * fold over m literal matrices — zero joins, zero shuffles, so the
    * encode pass streams the corpus once at any size. Value ranges:
    * per-subspace d² <= subdims × (2e6·|x|)² ~ 3.2e13 for unit vectors
    * at 64/8 dims — int64-safe with five orders of headroom. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, isCode: Column,
               m: Int, dims: Int, maxCodes: Int = 4096,
               trainIters: Int = 0): DataFrame = {
    val q = quantized(df, vecCol)
    val sub = dims / m
    val books0 = pqCodebooks(q.filter(isCode), idCol, m, dims, maxCodes)
    val books =
      if (trainIters > 0) trainBooks(q.select(col("qvec")), books0, m, sub, trainIters)
      else books0
    // the native encoder emits code POSITIONS; map back to codebook-entry
    // ids via the cid-sorted literal (argmin ties to the lower position
    // == the lower cid, so the mapping preserves tie semantics)
    val perS = (0 until m).map { s =>
      val cidLit = typedlit(books(s).map(_._1))
      struct(lit(s).cast("long").as("s"),
        element_at(cidLit, (element_at(col("ce"), s + 1) + 1L).cast("int")).as("code"),
        element_at(col("ce"), m + s + 1).as("err2"))
    }
    q.select(col(idCol).cast("long").as("id"), col("qvec"))
      .withColumn("ce", pqCodesCol(toPosBooks(books), m, sub))
      .select(col("id").as(idCol), explode(array(perS: _*)).as("e"))
      .select(col(idCol), col("e.s").as("s"), col("e.code").as("code"),
        col("e.err2").as("err2"))
  }

  /** Gated driver-side coarse-quantizer collect: (cid, vector, norm²)
    * cid-ascending — the maxSeeds pattern for centroid model state. */
  private[operators] def collectCents(q: DataFrame, idCol: String, isCentroid: Column,
                           maxCentroids: Int, opName: String): Seq[(Long, Seq[Long], Long)] = {
    val centRows = q.filter(isCentroid)
      .select(col(idCol).cast("long").as("id"), col("qvec"), col("qnorm2"))
      .limit(maxCentroids + 1)
      .collect()
    require(centRows.length <= maxCentroids,
      s"$opName: isCentroid selects more than maxCentroids=$maxCentroids rows - " +
        "the coarse quantizer is driver-side model state; a centroid set this " +
        "large suggests a mislabeled predicate")
    require(centRows.nonEmpty, s"$opName: isCentroid matched nothing - no cells")
    centRows
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  /** Dense-position codebooks: the same entries as [[pqCodebooks]]' cid
    * keying, re-keyed by position in the cid-sorted book — argmin ties to
    * the lower cid ⇔ lower position, so [[pqBest]] over these yields the
    * same entry; positions make the ADC distance table an O(1) array
    * index instead of a keyed lookup. */
  private[operators] def toPosBooks(books: IndexedSeq[Seq[(Long, Seq[Long], Long)]])
  : IndexedSeq[Seq[(Long, Seq[Long], Long)]] =
    books.map(_.zipWithIndex.map { case ((_, cv, cn), p) => (p.toLong, cv, cn) })

  /** Per-query ADC distance tables: for each subspace, an array column of
    * exact d² from the query's sub-vector to EVERY codebook entry (in
    * position order) — the classic ADC precomputation (Jégou et al. §V),
    * built once per query row, narrow. Downstream, a candidate's distance
    * is m array indexes + m-1 adds — never a re-slice or re-dot. */
  private[operators] def withAdcTables(queries: DataFrame, vecCol: String, m: Int, sub: Int,
                            posBooks: IndexedSeq[Seq[(Long, Seq[Long], Long)]]): DataFrame =
    (0 until m).foldLeft(queries) { case (d, s) =>
      val qsub = slice(col(vecCol), s * sub + 1, sub)
      val qsn = qdot(qsub, qsub)
      val bookLit = typedlit(posBooks(s).map { case (_, cv, cn) => (cv, cn) })
      d.withColumn(s"dt$s",
        transform(bookLit, c => qsn + c.getField("_2") - lit(2L) * qdot(qsub, c.getField("_1"))))
    }

  /** Σs dt_s[code_s] — the ADC sum over precomputed per-query tables. */
  private[operators] def adcDistance(m: Int): Column =
    (0 until m).map { s =>
      element_at(col(s"dt$s"), (col(s"code$s") + 1L).cast("int"))
    }.reduce(_ + _)

  /** PQ asymmetric-distance (ADC) top-k: queries keep their exact
    * quantized vectors; candidates are represented ONLY by their m PQ
    * codes, and the approximate distance is the sum over subspaces of
    * the exact d² between the query sub-vector and the candidate's
    * codebook entry — the memory-bandwidth win of PQ (m longs scanned
    * per candidate instead of `dims`). Ranking: adist2 ASC, then
    * cand_id ASC. Approximate by construction (distances quantize to
    * the codebook grid); [[bruteForceTopK]] is the exactness baseline.
    *
    * Scale: the encode side is the narrow [[pqEncode]] fold; the query
    * side is gated (`maxQueries`, the bruteForce pattern), carries its
    * per-subspace ADC distance TABLES precomputed (one k-entry array per
    * subspace, built once per query — the Jégou §V formulation: scoring
    * a candidate is m array indexes, never a dot product), and is
    * BROADCAST, so the scan is a map-side loop over the code table — no
    * corpus shuffle. At cluster scale this composes with IVF cells
    * ([[ivfTopK]]) to cut the scanned candidates per query — [[ivfPqTopK]]
    * is that composition. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             isCode: Column, isQuery: Column, m: Int, dims: Int, k: Int,
             maxCodes: Int = 4096, maxQueries: Int = 10000,
             trainIters: Int = 0): DataFrame = {
    val q = quantized(df, vecCol)
    val sub = dims / m
    val books0 = pqCodebooks(q.filter(isCode), idCol, m, dims, maxCodes)
    val posBooks = toPosBooks(
      if (trainIters > 0) trainBooks(q.select(col("qvec")), books0, m, sub, trainIters)
      else books0)
    val codes = q
      .select(col(idCol).cast("long").as("cand_id"), col("qvec"))
      .withColumn("ce", pqCodesCol(posBooks, m, sub))
      .select(col("cand_id") +:
        (0 until m).map(s => element_at(col("ce"), s + 1).as(s"code$s")): _*)
    val queries = q.filter(isQuery)
      .select(col(idCol).cast("long").as("query_id"), col("qvec").as("qv"))
    val nQueries = queries.limit(maxQueries + 1).count()
    require(nQueries <= maxQueries,
      s"pqTopK: query side exceeds maxQueries=$maxQueries rows - queries are " +
        "broadcast against the code table; large query sets should pre-bucket " +
        "with IVF cells (ivfPqTopK) before PQ scoring")
    // bounded min-k aggregate, not a rank window: nothing of the
    // queries × codes product is sorted or shuffled (map-side combine
    // ships ≤ k entries per query per partition)
    broadcast(withAdcTables(queries, "qv", m, sub, posBooks).drop("qv"))
      .crossJoin(codes)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist2", adcDistance(m))
      .groupBy(col("query_id"))
      .agg(graft.agg.NativeTopK
        .minK(k, col("adist2"), col("cand_id"), lit(0L)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"), col("e.adist2").as("adist2"))
  }

  /** IVF-PQ ANN — the composition the two building blocks exist for
    * (Jégou et al. 2011, §IV): a coarse centroid set partitions the
    * corpus into cells ([[ivfTopK]]'s inverted file), every vector is
    * PQ-coded ([[pqEncode]]), and a query scans ONLY its own cell,
    * scored by asymmetric distance over the m codes. This is the
    * billion-scale layout: candidates cut by the cell equi-join,
    * per-candidate cost cut to m table lookups.
    *
    * Cell assignment uses the literal-centroid-matrix fold (the
    * MEASURED-fast kmeans assignment shape — narrow and shuffle-free,
    * unlike [[ivfTopK]]'s window formulation which shuffles the corpus
    * on id): best cell by exact quantized cosine, ties to the lower
    * centroid id, identical semantics to q34. Zero-norm vectors have no
    * cosine and are dropped from both sides (the semDedup rule).
    *
    * Scale: centroids and codebooks are gated driver-side model state;
    * assignment + encoding are one narrow projection over the corpus;
    * the gated query side broadcasts and the candidate join is an
    * EQUI-join on `cell` — never a cross product, no corpus shuffle. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                isCentroid: Column, isCode: Column, isQuery: Column,
                m: Int, dims: Int, k: Int, nprobe: Int = 1,
                maxCentroids: Int = 4096, maxCodes: Int = 4096,
                maxQueries: Int = 10000, trainIters: Int = 0): DataFrame = {
    val q = quantized(df, vecCol).filter(col("qnorm2") > 0L)
    val sub = dims / m
    val books0 = pqCodebooks(q.filter(isCode), idCol, m, dims, maxCodes)
    val posBooks = toPosBooks(
      if (trainIters > 0) trainBooks(q.select(col("qvec")), books0, m, sub, trainIters)
      else books0)
    val cents = collectCents(q, idCol, isCentroid, maxCentroids, "ivfPqTopK")
    // narrow codegen'd cosine argmax against the reference-object
    // centroid matrix (cos DESC, cid ASC — the q34 order); keep the
    // original columns through assignment: isQuery references them
    val cellExpr =
      graft.functions.VectorExprs.nearestCell(col("qvec"), col("qnorm2"), cents)
    val assigned = q.withColumn("cell", cellExpr)
    val codes = assigned
      .withColumn("ce", pqCodesCol(posBooks, m, sub))
      .select(col(idCol).cast("long").as("cand_id") +: col("cell") +:
        (0 until m).map(s => element_at(col("ce"), s + 1).as(s"code$s")): _*)
    // multiprobe: each query scans its nprobe nearest cells. Unlike the
    // residual layout, raw-vector ADC tables do NOT depend on the probed
    // centroid, so they are built ONCE per query and the probe explode
    // (gated rows × nprobe, still tiny) happens after.
    val queries0 = q.filter(isQuery)
      .select(col(idCol).cast("long").as("query_id"), col("qvec").as("qv"),
        graft.functions.VectorExprs
          .nearestCells(col("qvec"), col("qnorm2"), cents, nprobe).as("probes"))
    val nQueries = queries0.limit(maxQueries + 1).count()
    require(nQueries <= maxQueries,
      s"ivfPqTopK: query side exceeds maxQueries=$maxQueries rows - queries are " +
        "broadcast against the cell-partitioned code table")
    val queries = withAdcTables(queries0, "qv", m, sub, posBooks)
      .drop("qv")
      .withColumn("cell", explode(col("probes")))
      .drop("probes")
    // bounded min-k aggregate, not a rank window: a probed cell's
    // candidates never sort or shuffle — each partition ships ≤ k
    // entries per query (the probeStream formulation, bit-identical)
    broadcast(queries)
      .join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist2", adcDistance(m))
      .groupBy(col("query_id"))
      .agg(graft.agg.NativeTopK
        .minK(k, col("adist2"), col("cand_id"), col("cell")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("e.cell").as("cell"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"), col("e.adist2").as("adist2"))
  }

  /** ADC-then-exact refine — FAISS's `IndexRefineFlat` composition
    * (Jégou et al. 2011 §V.A "re-ranking"): the IVF-PQ stage returns a
    * generous top-`refineR` candidate list per query by approximate ADC
    * distance, then ONLY those candidates' exact quantized vectors are
    * fetched and re-ranked by exact L2, emitting the top-`k`. Buys back
    * most of the recall PQ quantization loses at the cost of reading
    * R (not corpus-size) full vectors per query — the standard
    * production ANN shape: compressed index for the scan, flat vectors
    * for the short list.
    *
    * Scale: stage 1 is [[ivfPqTopK]]'s audited plan unchanged; stage 2
    * is the gated candidate list (≤ queries × refineR rows, broadcast)
    * equi-joined against the corpus on the candidate id — one narrow
    * fetch pass, never a second scan of cell contents, no new shuffle
    * shapes. Ranking: dist2 ASC, cand_id ASC (exact distance is
    * cell-independent, so no cell column survives the refine). */
  def ivfPqRefineTopK(df: DataFrame, idCol: String, vecCol: String,
                      isCentroid: Column, isCode: Column, isQuery: Column,
                      m: Int, dims: Int, k: Int, refineR: Int, nprobe: Int = 1,
                      maxCentroids: Int = 4096, maxCodes: Int = 4096,
                      maxQueries: Int = 10000): DataFrame = {
    require(refineR >= k, s"ivfPqRefineTopK: refineR=$refineR must be >= k=$k")
    val cand = ivfPqTopK(df, idCol, vecCol, isCentroid, isCode, isQuery,
        m, dims, refineR, nprobe, maxCentroids, maxCodes, maxQueries)
      .select(col("query_id"), col("cand_id"))
    val q = quantized(df, vecCol).filter(col("qnorm2") > 0L)
    val qSide = q.filter(isQuery)
      .select(col(idCol).cast("long").as("query_id"),
        col("qvec").as("q_v"), col("qnorm2").as("q_n"))
    val cSide = q
      .select(col(idCol).cast("long").as("cand_id"),
        col("qvec").as("c_v"), col("qnorm2").as("c_n"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("cand_id").asc)
    broadcast(cand.join(qSide, Seq("query_id")))
      .join(cSide, Seq("cand_id"))
      .withColumn("dist2", col("q_n") + col("c_n") - lit(2L) * qdot(col("q_v"), col("c_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("dist2"))
  }

  /** Residual IVF-PQ with multiprobe — the full FAISS `IVFx,PQy` layout
    * (Jégou et al. 2011, §IV.B): every vector is assigned to its nearest
    * coarse cell and its RESIDUAL (vector − centroid) is PQ-coded, so
    * the codes spend their bits on what the cell didn't explain (far
    * tighter quantization than raw-vector PQ when cells are meaningful);
    * a query probes its `nprobe` nearest cells, recomputing its residual
    * — and therefore its ADC distance tables — against EACH probed
    * centroid, and scans only those cells' candidates.
    *
    * PQ codebooks are trained on the designated code rows' residuals
    * w.r.t. their own cells (computed driver-side from the collected
    * model state, matching the native expressions' arithmetic exactly).
    * Ranking is global per query across all probed cells: adist2 ASC,
    * cand_id ASC.
    *
    * Scale: everything [[ivfPqTopK]] says, plus — the candidate-side
    * residual encode is one compiled pass (`PqResidualCodesLongArray`,
    * centroid looked up by binary search per row); the query side
    * explodes ×nprobe BEFORE the broadcast (query rows stay gated ×
    * nprobe); the per-probe distance tables are rebuilt per (query,
    * cell) because residuals differ per probed centroid — that is the
    * FAISS cost model too (nprobe table builds per query, each k×m). */
  def ivfPqResidualTopK(df: DataFrame, idCol: String, vecCol: String,
                        isCentroid: Column, isCode: Column, isQuery: Column,
                        m: Int, dims: Int, k: Int, nprobe: Int = 2,
                        maxCentroids: Int = 4096, maxCodes: Int = 4096,
                        maxQueries: Int = 10000): DataFrame = {
    require(dims % m == 0, s"pq: dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    val q = quantized(df, vecCol).filter(col("qnorm2") > 0L)
    val cents = collectCents(q, idCol, isCentroid, maxCentroids, "ivfPqResidualTopK")
    // codebooks from the code rows' RESIDUALS w.r.t. their own cells —
    // driver-side replica of NearestCellLongArrays' argmax (cid-ascending
    // scan, strict >, identical double op sequence)
    val codeRows = q.filter(isCode)
      .select(col(idCol).cast("long").as("id"), col("qvec"))
      .limit(maxCodes + 1)
      .collect()
    require(codeRows.length <= maxCodes,
      s"ivfPqResidualTopK: isCode selects more than maxCodes=$maxCodes rows - " +
        "PQ codebooks are driver-side model state")
    require(codeRows.nonEmpty, "ivfPqResidualTopK: isCode matched no rows")
    def cellOf(v: Seq[Long]): Seq[Long] = {
      val qn = v.map(x => x * x).sum
      val qs = math.sqrt(qn.toDouble)
      var best = 0.0d; var bc: Seq[Long] = null; var first = true
      cents.foreach { case (_, cv, cn) =>
        val d = v.zip(cv).map { case (x, y) => x * y }.sum
        val cos = d.toDouble / (qs * math.sqrt(cn.toDouble))
        if (first || cos > best) { best = cos; bc = cv; first = false }
      }
      bc
    }
    val books: IndexedSeq[Seq[(Long, Seq[Long], Long)]] = {
      val residuals = codeRows
        .map { r =>
          val v = r.getSeq[Long](1)
          val cent = cellOf(v)
          r.getLong(0) -> v.zip(cent).map { case (x, c) => x - c }
        }
        .sortBy(_._1)
      (0 until m).map { s =>
        residuals.toSeq.map { case (cid, rv) =>
          val cv = rv.slice(s * sub, (s + 1) * sub)
          (cid, cv, cv.map(x => x * x).sum)
        }
      }
    }
    val posBooks = toPosBooks(books)
    import graft.functions.VectorExprs.{nearestCells, pqResidualCodes}
    val assigned = q.withColumn("cell",
      graft.functions.VectorExprs.nearestCell(col("qvec"), col("qnorm2"), cents))
    val codes = assigned
      .withColumn("ce", pqResidualCodes(col("qvec"), col("cell"), posBooks, m, sub, cents))
      .select(col(idCol).cast("long").as("cand_id") +: col("cell") +:
        (0 until m).map(s => element_at(col("ce"), s + 1).as(s"code$s")): _*)
    val queries0 = q.filter(isQuery)
      .select(col(idCol).cast("long").as("query_id"), col("qvec").as("qv"),
        nearestCells(col("qvec"), col("qnorm2"), cents, nprobe).as("probes"))
    val nQueries = queries0.limit(maxQueries + 1).count()
    require(nQueries <= maxQueries,
      s"ivfPqResidualTopK: query side exceeds maxQueries=$maxQueries rows - " +
        "queries are broadcast against the cell-partitioned code table")
    // per probed cell: the query's residual against THAT centroid, then
    // its ADC tables off the residual (tiny side: gated rows × nprobe)
    val centMap = typedlit(cents.map { case (cid, cv, _) => cid -> cv }.toMap)
    val queries = withAdcTables(
      queries0
        .select(col("query_id"), col("qv"), explode(col("probes")).as("cell"))
        .withColumn("rq", zip_with(col("qv"), element_at(centMap, col("cell")), (x, c) => x - c)),
      "rq", m, sub, posBooks)
      .drop("qv", "rq")
    // bounded min-k aggregate, not a rank window (see ivfPqTopK)
    broadcast(queries)
      .join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("adist2", adcDistance(m))
      .groupBy(col("query_id"))
      .agg(graft.agg.NativeTopK
        .minK(k, col("adist2"), col("cand_id"), col("cell")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("e.cell").as("cell"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"), col("e.adist2").as("adist2"))
  }

  /** Int8 scalar quantization of an embedding column — the compression
    * step before shipping vectors to an ANN index: per-dimension min/max
    * over the corpus define a 0..255 code grid; each value is coded,
    * reconstructed, and scored for reconstruction error. All arithmetic
    * is exact int64 on the micro-unit grid (truncating division matches
    * DuckDB `//`), so codes and error sums hash identically cross-engine.
    *
    * Output per vector: the code-sum checksum and the summed/max absolute
    * reconstruction error in micro-units.
    *
    * Scale: the per-dimension stats table is `dims` rows (one map-side
    * combined aggregation), broadcast back over the corpus; coding is
    * narrow; one final per-vector aggregation. Constant dims ⇒ both
    * shuffles carry rows ∝ corpus size, no blowup. */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.TextFunctions.intDiv
    val ex = quantized(df, vecCol)
      .select(col(idCol), posexplode(col("qvec")).as(Seq("pos", "x")))
    val stats = ex.groupBy(col("pos"))
      .agg(min(col("x")).as("qmin"), max(col("x")).as("qmax"))
    ex.join(broadcast(stats), Seq("pos"))
      .withColumn("rng", col("qmax") - col("qmin"))
      .withColumn("code",
        when(col("rng") === 0L, 0L)
          .otherwise(intDiv((col("x") - col("qmin")) * 255L, col("rng"))))
      .withColumn("recon",
        col("qmin") + when(col("rng") === 0L, 0L)
          .otherwise(intDiv(col("code") * col("rng"), lit(255L))))
      .withColumn("err", abs(col("x") - col("recon")))
      .groupBy(col(idCol))
      .agg(
        sum(col("code")).as("sum_codes"),
        sum(col("err")).as("sum_abs_err"),
        max(col("err")).as("max_abs_err"))
  }

  /** Deterministic integer hyperplane coefficient for (plane, dim):
    * md5-derived value in [-1000, 1000] — computed driver-side with the
    * same md5 math the DuckDB oracle uses, then embedded as a literal
    * matrix (no per-row hashing). */
  def planeCoefValue(plane: Int, dim: Int): Long = {
    val md  = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane${plane}_$dim".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L - 1000L
  }

  /** Random-hyperplane LSH signatures + bucketed top-k.
    *
    * Signature: bit p = (qvec · plane_p >= 0), planes a broadcast literal
    * matrix, dots via the codegen'd expression. Same-signature join yields
    * candidates; exact quantized cosine ranks them. Recall < 1 by design —
    * the scale path trades recall for a shuffle-join candidate set.
    */
  /** Quantized vectors + LSH sign-bit signature, normalized id column:
    * output columns (id, qvec, qnorm2, sig) plus the original ones. */
  def withSignature(df: DataFrame, idCol: String, vecCol: String,
                    nPlanes: Int, dims: Int): DataFrame = {
    val q = quantized(df, vecCol)
    val planes = typedlit(
      (0 until nPlanes).map(p => (0 until dims).map(i => planeCoefValue(p, i))))
    val sigExpr = (0 until nPlanes)
      .map(p => when(qdot(col("qvec"), element_at(planes, p + 1)) >= 0L, lit(1L << p)).otherwise(0L))
      .reduce(_ + _) // disjoint bits: sum == OR
    q.withColumn("id", col(idCol)).withColumn("sig", sigExpr)
  }

  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              isQuery: Column, k: Int, nPlanes: Int, dims: Int): DataFrame = {
    val sig = withSignature(df, idCol, vecCol, nPlanes, dims)
    val queries = sig.filter(isQuery)
      .select(col(idCol).as("query_id"), col("qvec").as("qv"), col("qnorm2").as("qn"), col("sig"))
    val cands = sig.select(col(idCol).as("cand_id"), col("qvec").as("cv"), col("qnorm2").as("cn"), col("sig"))
    val scored = queries
      .join(cands, Seq("sig"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot", qdot(col("qv"), col("cv")))
      .withColumn("cos", qcos(col("dot"), col("qn"), col("cn")))
    // bounded max-k aggregate, not a rank window: an LSH bucket's
    // candidates never sort or shuffle. `sig` is the query's own bucket
    // (the equi-join key), constant per query — it rides as a group key.
    scored
      .groupBy(col("query_id"), col("sig"))
      .agg(graft.agg.NativeTopK
        .maxCosK(k, col("cos"), col("cand_id"), col("dot")).as("topk"))
      .select(col("query_id"), col("sig"), posexplode(col("topk")).as(Seq("r0", "e")))
      .select(col("query_id"), col("sig"), col("e.cand_id").as("cand_id"),
        (col("r0") + 1).cast("int").as("rank"),
        floor(col("e.cos") * 1000000.0d).cast("long").as("cos_ppm"))
  }
}
