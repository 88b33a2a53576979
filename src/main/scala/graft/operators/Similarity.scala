package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Kernels, Functions => F}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (they're the small side); the corpus is never
  *    shuffled, each partition scores its slice and a TakeOrdered-style
  *    window keeps k per query. Fine for ≤10⁴ queries × any corpus size.
  *  - [[lshTopK]]: sign-random-projection LSH — corpus hashed once into
  *    2^planes buckets; queries probe only their bucket. The scale path:
  *    candidate count is corpus/2^planes per query instead of the corpus.
  *
  * Hyperplanes are derived deterministically from [[F.hash60]] of
  * (plane, dim) so the whole pipeline is reproducible in the SQL oracle.
  * Vectors are quantized (scale 1000) → integer dot products → deterministic
  * scores across engines.
  */
object Similarity {

  /** Exact top-k neighbors per query by quantized cosine.
    * Output: (query_id, neighbor_id, cosine, rn). */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"), F.vec_quantize(queryVec, 1000).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** [[bruteForceTopK]] under the L2 metric (pgvector `<->` / FAISS
    * METRIC_L2): exact top-k by integer SQUARED Euclidean distance over
    * the quantized vectors — distance asc, neighbor asc. Squared on
    * purpose (sqrt is monotone: same ranking, zero rounding rules), so
    * the whole lane replays bit-for-bit in the oracle. Same scale shape
    * as the cosine lane: broadcast queries, one codegen'd kernel per
    * pair, per-group top-k — the exact baseline every approximate L2
    * index is measured against. */
  def l2TopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("l2sq"), col("rn"))
  }

  /** RANGE SEARCH under the L2 metric (FAISS `range_search` on
    * METRIC_L2 / pgvector `WHERE v <-> q < r`): every (query, neighbor)
    * pair with integer squared distance `l2sq <= r2`, self-pairs
    * excluded — the radius analog of [[l2TopK]]. `r2` is the SQUARED
    * radius in quantized units (sqrt is monotone — no rounding rule to
    * replay). Output `(query_id, neighbor_id, l2sq)`, unordered and
    * result-sized: there is deliberately no per-group cut, matching the
    * FAISS contract that radius queries return everything in range (the
    * caller picks the radius; output size follows it).
    *
    * Scale shape: identical to the brute top-k lane — broadcast queries,
    * ONE codegen'd kernel pass, a filter; zero shuffles. */
  def l2Range(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              r2: Long): DataFrame = {
    require(r2 >= 0, s"squared radius must be >= 0 (got $r2)")
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
      .filter(col("l2sq") <= r2)
      .select(col("query_id"), col("neighbor_id"), col("l2sq"))
  }

  // --- ColBERT-style late interaction (multi-vector MaxSim) ----------------

  /** Shared MaxSim tail: per-(query, query-token, doc) MAX cosine, then
    * the per-pair SUM of the maxes in EXACT integer micros (each q6
    * tok-max converts via the engine-agnostic `floor(x·10⁶ + 0.5)` —
    * doubles never accumulate, so the score is order-free on any
    * engine), then the deterministic per-query top-k. Two grouped
    * aggregates, both map-side combined: the first collapses to
    * |query tokens| rows per candidate doc per partition before its
    * exchange, the second is pair-sized. */
  private def maxSimRank(scored: DataFrame, k: Int): DataFrame = {
    val tokMax = scored
      .groupBy(col("query_id"), col("qtok"), col("neighbor_id"))
      .agg(max(col("cos")).as("tok_max"))
    val pairs = tokMax
      .withColumn("tok_micros",
        floor(col("tok_max") * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("tok_micros")).as("score_micros"))
    TopK.perGroup(pairs, k, Seq(col("query_id")),
        Seq(col("score_micros").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("score_micros"),
        col("rn").cast("long").as("rn"))
  }

  /** MULTI-VECTOR top-k by MaxSim late interaction (ColBERT — Khattab &
    * Zaharia 2020): documents and queries are BAGS of vectors (one per
    * token); score(q, d) = Σ over q's tokens of the MAX cosine against
    * any of d's tokens. The single-vector ANN lanes compress a document
    * to one point and lose term-level matching; MaxSim keeps it while
    * staying embarrassingly parallel — this is the exact brute-force
    * baseline (the [[bruteForceTopK]] analog): corpus token vectors
    * never shuffle, queries broadcast, one codegen'd cosine kernel pass,
    * then the [[maxSimRank]] aggregate tail. Self-docs excluded.
    * Output: (query_id, neighbor_id, score_micros, rn).
    *
    * `queryTok` identifies the token WITHIN its query document (the
    * per-token max groups on it); any dense or sparse numbering works. */
  def maxSimTopK(corpus: DataFrame, corpusDoc: Column, corpusVec: Column,
                 queries: DataFrame, queryDoc: Column, queryTok: Column,
                 queryVec: Column, k: Int): DataFrame = {
    val c = corpus.select(corpusDoc.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryDoc.as("query_id"), queryTok.as("qtok"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", F.vec_cosine_q6(col("cv"), col("qv")))
    maxSimRank(scored, k)
  }

  /** Packing base for the per-token probe ids of
    * [[maxSimTopKIndexed]]: `quid = (doc + 1) · 2²⁰ + tok`. A power of
    * two, so the unpack division is IEEE-exact; the `+1` offset keeps
    * every packed id above any corpus token id `< 2²⁰`, so the probe's
    * self-id exclusion can never fire against a corpus token. */
  private val MaxSimPackBase = 1L << 20

  /** The SERVING path of [[maxSimTopK]] (ColBERT's own two-stage shape):
    * stage 1 probes a persisted IVF index over the CORPUS TOKEN vectors
    * once per query token (nprobe cells, top-`tokK` tokens — reads only
    * the probed cell directories, the q54/q195 machinery), the matched
    * tokens' documents union into a per-query candidate set; stage 2
    * re-scores ONLY the candidate documents with the exact MaxSim
    * aggregate. Candidates are (queries × query-tokens × tokK)-bounded —
    * never corpus-proportional — and broadcast to both the token fetch
    * and the rerank, so the corpus is touched by exactly one
    * token→document map pass plus the candidate-token fetch.
    *
    * The index at `indexPath` must be a [[writeIvfIndex]] lake keyed by
    * `corpusTok` (the token id), with token ids `< 2²⁰` (see
    * [[MaxSimPackBase]]) and `queryTok` in `[0, 2²⁰)`. Recall is
    * governed by (nprobe, tokK) exactly as in the ANN lanes: a document
    * is found iff ANY of its tokens surfaces in some token probe. */
  def maxSimTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String,
                        corpus: DataFrame, corpusDoc: Column,
                        corpusTok: Column, corpusVec: Column,
                        queries: DataFrame, queryDoc: Column,
                        queryTok: Column, queryVec: Column,
                        k: Int, nprobe: Int, tokK: Int): DataFrame = {
    require(tokK >= 1, s"tokK must be >= 1 (got $tokK)")
    val q = queries.select(queryDoc.cast("long").as("qdoc"),
      queryTok.cast("long").as("qtok"), queryVec.as("qv"))
    // Packing-contract guard (ADVICE r15): the doc'd bounds — queryTok in
    // [0, 2²⁰), qdoc+1 < 2³³ so quid < 2⁵³ stays IEEE-exact under the
    // unpack division, corpus token ids in [0, 2²⁰) so probe hits can
    // never collide with packed query ids — were comment-only; a violator
    // silently corrupted the candidate mapping. assert_true rides the
    // existing row passes (two codegen'd comparisons), and the
    // `when(...isNull, x)` wrapper forces evaluation so the optimizer
    // cannot prune the check away.
    def guarded(x: Column, lo: Long, hiExcl: Long, what: String): Column =
      when(assert_true(x >= lo && x < hiExcl,
        concat(lit(s"maxSimTopKIndexed: $what out of packing range " +
          s"[$lo, $hiExcl): "), x.cast("string"))).isNull, x)
    val packed = q.select(
      ((guarded(col("qdoc"), 0L, (1L << 33) - 1, "query doc id") + 1) *
        MaxSimPackBase +
        guarded(col("qtok"), 0L, MaxSimPackBase, "query token id"))
        .as("quid"),
      col("qv"))
    val probe = ivfTopKIndexed(spark, indexPath, packed, col("quid"),
      col("qv"), k = tokK, nprobe = nprobe)
    val tokDoc = corpus.select(
      guarded(corpusTok.cast("long"), 0L, MaxSimPackBase,
        "corpus token id").as("ctok"),
      corpusDoc.cast("long").as("cdoc"))
    // candidate pairs: probe hits map token → document (one streamed pass
    // over the corpus-sized map, probe side broadcast), unpack the query
    // id, drop self-docs — the division is exact (power-of-two base).
    // COLLECTED, not checkpointed: the pair set is
    // (queries × query-tokens × tokK)-bounded by construction, and the old
    // broadcast-join shape shipped exactly these rows through the driver
    // anyway — materializing them once replaces a localCheckpoint job plus
    // two broadcast builds with one collect, and lets the candidate doc
    // ids reach the corpus scan as a PUSHED `IN` predicate instead of a
    // semi join (PushedFilters prunes at the parquet reader).
    val candPairs: Array[(Long, Long)] = tokDoc
      .join(broadcast(probe.select(col("neighbor_id").as("ctok"),
        col("query_id").as("quid"))), Seq("ctok"))
      .select(((col("quid") / MaxSimPackBase).cast("long") - 1)
        .as("query_id"), col("cdoc").as("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val cand = candPairs.toSeq.toDF("query_id", "neighbor_id")
    val docIds = candPairs.map(_._2).distinct.sorted
    // exact MaxSim over the shortlist: candidate docs' tokens only
    val c = corpus.select(corpusDoc.cast("long").as("neighbor_id"),
        F.vec_quantize(corpusVec, 1000).as("cv"))
      .filter(if (docIds.isEmpty) lit(false)
        else col("neighbor_id").isin(docIds.map(Long.box).toSeq: _*))
    val qq = q.select(col("qdoc").as("query_id"), col("qtok"),
      F.vec_quantize(col("qv"), 1000).as("qv"))
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qq), Seq("query_id"))
      .withColumn("cos", F.vec_cosine_q6(col("cv"), col("qv")))
    maxSimRank(scored, k)
  }

  /** The two-stage MaxSim serving plan for a CONSTANT quantized query bag
    * — the substitution target of [[graft.plans.MaxSimRewrite]] (the
    * declarative `groupBy(doc).agg(maxsim_q6(...)) ORDER BY ... LIMIT k`
    * shape). Unlike [[maxSimTopKIndexed]] the per-token cell probe runs
    * at PLAN TIME (the bag is a constant, exactly like
    * [[graft.plans.AnnRewrite]]'s centroid probe), so the assignment read
    * carries a static `cell IN (...)` partition filter — only the probed
    * cell directories are listed. Stage 1 ranks each query token's
    * top-`tokK` corpus tokens within its probed cells; matched tokens map
    * to documents through one streamed pass over the (token → doc)
    * projection; stage 2 re-scores ONLY the candidate documents with the
    * same [[graft.functions.KernelAggs.MaxSimQ6Agg]] aggregate the brute
    * query uses — score-identical by construction. No self-doc exclusion:
    * a constant bag has no document identity. Returns
    * `(doc, score_micros)` unranked — the caller's surviving Sort + Limit
    * execute the top-k over the candidate-bounded set.
    *
    * Everything here is a pure logical plan (no checkpoint, no job): the
    * builder runs inside an optimizer rule. */
  private[graft] def maxSimServeConstQ(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpusTokens: DataFrame, docCol: String, tokCol: String,
      vecCol: String, qVecs: Array[Array[Long]],
      nprobe: Int, tokK: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    require(tokK >= 1, s"tokK must be >= 1 (got $tokK)")
    require(qVecs.nonEmpty, "query bag must not be empty")
    val cents = readCentroids(spark, indexPath)
    // plan-time per-token probe: nprobe best cells under (cosQ6 desc,
    // cell asc) — the same ordering the data-side probe uses
    val probes: Seq[(Int, Seq[Long], Seq[Int])] =
      qVecs.toSeq.zipWithIndex.map { case (qv, j) =>
        val cells = cents
          .map { case (cid, c) => (cid, graft.functions.Kernels.cosineQ6Arrays(qv, c)) }
          .sortBy { case (cid, cos) => (-cos, cid) }
          .take(nprobe).map(_._1).toSeq
        (j, qv.toSeq, cells)
      }
    val allCells = probes.flatMap(_._3).distinct.sorted
    import spark.implicits._
    val qdf = probes.toDF("qtok", "qv", "cells")
    val pruned = readAssign(spark, indexPath)
      .filter(col("cell").isin(allCells.map(Int.box).toSeq: _*))
    // a cosine-sq8 index stores codes only: reconstruct against the
    // trained bounds and ADC-score the reconstruction (stage-2's exact
    // rerank below always runs on RAW corpus vectors)
    val assigned = indexMetric(spark, indexPath) match {
      case "cosine" => pruned
      case "cosine-sq8" =>
        val (mn, mx) = readSq8Bounds(spark, indexPath)
        pruned.withColumn("cv", F.vec_sq8_recon(col("codes"),
          typedlit(mn.toSeq), typedlit(mx.toSeq)))
      case m => throw new IllegalArgumentException(
        s"MaxSim serves cosine kernels only; index at $indexPath is '$m'")
    }
    val scoredTok = assigned
      .join(broadcast(qdf), array_contains(col("cells"), col("cell")))
      .withColumn("cos", F.vec_cosine_q6(col("cv"), col("qv")))
    val topTok = TopK.perGroup(scoredTok, tokK, Seq(col("qtok")),
      Seq(col("cos").desc, col("neighbor_id").asc))
    val cand = corpusTokens
      .select(col(tokCol).cast("long").as("ctok"), col(docCol).as("cdoc"))
      .join(broadcast(topTok
        .select(col("neighbor_id").cast("long").as("ctok")).distinct()),
        Seq("ctok"))
      .select(col("cdoc")).distinct()
    // exact rerank: the SAME aggregate the declarative brute shape uses,
    // over candidate docs' tokens only
    val bagLit = typedlit(qVecs.map(_.toSeq).toSeq)
    corpusTokens
      .select(col(docCol).as("cdoc"),
        F.vec_quantize(col(vecCol), 1000).as("cv"))
      .join(broadcast(cand), Seq("cdoc"))
      .groupBy(col("cdoc"))
      .agg(graft.functions.KernelAggs.maxsim_q6(col("cv"), bagLit)
        .as("score_micros"))
  }

  /** RANGE SEARCH under the cosine metric (pgvector
    * `WHERE v <=> q < r`, spelled as similarity): every pair with q6
    * cosine `>= minCos`, self-pairs excluded. Both engines compare the
    * SAME q6-rounded double against the same parsed literal, so the
    * threshold cut replays exactly. Same zero-shuffle shape as
    * [[l2Range]]. */
  def cosineRange(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                  queries: DataFrame, queryId: Column, queryVec: Column,
                  minCos: Double): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
      .filter(col("cosine") >= minCos)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** IVF RANGE SEARCH under the L2 metric (FAISS
    * `IndexIVFFlat.range_search`): each query probes its `nprobe`
    * l2-nearest cells and returns every candidate there with
    * `l2sq <= r2` — nprobe-approximate exactly like every IVF probe (a
    * neighbor assigned outside the probed cells is missed; FAISS makes
    * the same trade), exact integer arithmetic inside, so the probe set
    * AND the radius cut replay bit-for-bit. Output
    * `(query_id, cell, neighbor_id, l2sq)`. Probe cost: nprobe/nlist of
    * the corpus per query, the IVF contract. */
  def ivfL2Range(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                 queries: DataFrame, queryId: Column, queryVec: Column,
                 seeds: DataFrame, seedId: Column, seedVec: Column,
                 r2: Long, nprobe: Int = 1): DataFrame = {
    require(r2 >= 0, s"squared radius must be >= 0 (got $r2)")
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val spark = corpus.sparkSession
    val cents: Array[(Int, Array[Long])] = seeds
      .select(seedId.cast("int").as("cell"),
        F.vec_quantize(seedVec, 1000).as("cq"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val c = corpus.select(corpusId.as("neighbor_id"),
        F.vec_quantize(corpusVec, 1000).as("cv"))
      .withColumn("cell", assignCellL2(spark, cents)(col("cv")))
    val q = queries.select(queryId.as("query_id"),
        F.vec_quantize(queryVec, 1000).as("qv"))
      .withColumn("cell",
        explode(assignCellsL2(spark, cents, nprobe)(col("qv"))))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
      .filter(col("l2sq") <= r2)
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("l2sq"))
  }

  // ---- SQ8 scalar quantization (FAISS IndexScalarQuantizer) -----------

  /** SQ8 per-dimension bounds: `(mn, mx)` over the quantized training
    * vectors — ONE map-side-combined aggregate of dim rows (posexplode →
    * min/max per dimension), a driver-sized collect at any corpus scale.
    * FAISS trains the same way (QT_8bit = per-dim min/max). */
  def sq8Train(train: DataFrame, vec: Column): (Array[Long], Array[Long]) = {
    val rows = train
      .select(posexplode(F.vec_quantize(vec, 1000)).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    require(rows.nonEmpty, "SQ8 training set must be non-empty")
    (rows.map(_.getLong(1)), rows.map(_.getLong(2)))
  }

  /** SQ8 ANN (FAISS `IndexScalarQuantizer` QT_8bit, asymmetric distance):
    * the per-dimension-scalar sibling of [[pqTopK]]'s codebook
    * compression — each vector stores one byte-range code per dimension
    * (4× smaller than the quantized ints; parquet bit-packs the 0..255
    * range further at rest), and queries score EXACT integer L2² against
    * the RECONSTRUCTED vector while staying exact on the query side.
    * Encode, reconstruction, and distance are all integer arithmetic
    * ([[graft.functions.Kernels.sq8Encode]]/`sq8Recon`), so the whole
    * lane — bounds, codes, ADC ranking — replays bit-for-bit in the
    * oracle. Scale shape: bounds are a dim-row aggregate; encode +
    * recon + distance are one codegen'd projection pass over a broadcast
    * query join — zero shuffles, same as the brute lanes.
    * Output `(query_id, neighbor_id, adc_dist, rn)`, distance asc /
    * neighbor asc. Trains on the corpus itself (pass an explicit sample
    * via [[sq8TopKWithBounds]] when training must not scan the corpus). */
  def sq8TopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int): DataFrame = {
    val (mn, mx) = sq8Train(corpus, corpusVec)
    sq8TopKWithBounds(corpus, corpusId, corpusVec, queries, queryId,
      queryVec, k, mn, mx)
  }

  /** [[sq8TopK]] against pre-trained bounds (the production shape: train
    * once on a sample, serve many corpora/batches). */
  def sq8TopKWithBounds(corpus: DataFrame, corpusId: Column,
                        corpusVec: Column, queries: DataFrame,
                        queryId: Column, queryVec: Column, k: Int,
                        mn: Array[Long], mx: Array[Long]): DataFrame = {
    require(mn.length == mx.length && mn.nonEmpty,
      s"mn/mx bounds must be same-length and non-empty")
    val mnL = typedlit(mn.toSeq); val mxL = typedlit(mx.toSeq)
    // recon lands BEFORE the query join: one decode per corpus row, not
    // one per (corpus, query) pair
    val c = corpus.select(corpusId.as("neighbor_id"),
        F.vec_sq8_encode(F.vec_quantize(corpusVec, 1000), mnL, mxL)
          .as("codes"))
      .withColumn("rv", F.vec_sq8_recon(col("codes"), mnL, mxL))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", F.vec_l2sq_long(col("rv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("rn"))
  }

  /** SQ8 shortlist + EXACT rerank (the standard two-stage recipe): the
    * compressed lane proposes `k·mult` candidates per query, the exact
    * integer L2² re-ranks only those — at scale the raw vectors are
    * fetched for shortlist rows alone (a semi-join against the corpus),
    * never the corpus. Output `(query_id, neighbor_id, l2sq, rn)`. */
  def sq8RerankTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    queries: DataFrame, queryId: Column, queryVec: Column,
                    k: Int, mult: Int = 4): DataFrame = {
    require(mult >= 1, s"mult must be >= 1 (got $mult)")
    val shortlist = sq8TopK(corpus, corpusId, corpusVec, queries, queryId,
        queryVec, k * mult)
      .select(col("query_id"), col("neighbor_id"))
    val exact = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val joined = shortlist.join(exact, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(joined, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("l2sq"), col("rn"))
  }

  /** Sign-random-projection bucket id (0 .. 2^planes-1) for a quantized
    * vector column: bit p = sign of <v, hyperplane_p>, where hyperplane
    * component (p, d) = hash60("plane_<p>_<d>") % 1000 - 500 — deterministic,
    * so the SQL oracle reproduces it. Native
    * [[graft.functions.KernelExprs.SrpBucket]]: the plane matrix is
    * row-independent and memoized; the composed form recomputed one md5 per
    * vector element per row. */
  def srpBucket(qvec: Column, planes: Int): Column =
    graft.functions.KernelExprs.srp_bucket(qvec, planes)

  /** Nearest-centroid id for a quantized-vector column, by q6 cosine (ties →
    * lowest centroid id). The centroid matrix is broadcast and the argmax
    * runs inside one projection — assignment never joins, shuffles, or
    * windows the corpus, which is what survives a 100 TB corpus. */
  def assignCell(spark: org.apache.spark.sql.SparkSession,
                 centroids: Array[(Int, Array[Long])])(qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) -1 // null/unparseable embedding → no cell, row skipped
      else {
      val arr = v.toArray
      var bestId = Int.MaxValue
      var bestCos = Double.NegativeInfinity
      for ((id, c) <- bc.value) {
        val cos = graft.functions.Kernels.cosineQ6Arrays(arr, c)
        if (cos > bestCos || (cos == bestCos && id < bestId)) {
          bestCos = cos; bestId = id
        }
      }
      bestId
      }
    })
    fn(qvec)
  }

  /** The `nprobe` nearest centroid ids (descending q6 cosine, ties → lowest
    * id) for a quantized-vector column — the multi-probe side of
    * [[ivfTopK]]. Same broadcast-projection shape as [[assignCell]]. */
  def assignCells(spark: org.apache.spark.sql.SparkSession,
                  centroids: Array[(Int, Array[Long])], nprobe: Int)
                 (qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) Seq.empty[Int]
      else {
        val arr = v.toArray
        bc.value
          .map { case (id, c) =>
            (id, graft.functions.Kernels.cosineQ6Arrays(arr, c)) }
          .sortBy { case (id, cos) => (-cos, id) }
          .take(nprobe).map(_._1).toSeq
      }
    })
    fn(qvec)
  }

  /** [[bruteForceTopK]] under the INNER-PRODUCT metric (pgvector `<#>` /
    * FAISS METRIC_INNER_PRODUCT — the metric for non-normalized learned
    * embeddings where magnitude carries signal, e.g. DPR retrievers):
    * exact integer dot product over the quantized vectors, score desc /
    * neighbor asc — zero rounding rules, bit-replayable. */
  def ipTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", F.vec_dot_long(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("dot").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rn"))
  }

  /** [[assignCell]] under the L2 metric: nearest centroid by EXACT
    * integer squared Euclidean distance (ties → lowest id) — FAISS
    * METRIC_L2's assignment rule, with no rounding step at all. */
  def assignCellL2(spark: org.apache.spark.sql.SparkSession,
                   centroids: Array[(Int, Array[Long])])
                  (qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) -1
      else {
        val arr = v.toArray
        var bestId = Int.MaxValue
        var best = Long.MaxValue
        for ((id, c) <- bc.value) {
          val d = graft.functions.Kernels.l2sqArrays(arr, c)
          if (d < best || (d == best && id < bestId)) {
            best = d; bestId = id
          }
        }
        bestId
      }
    })
    fn(qvec)
  }

  /** The `nprobe` nearest centroid ids by integer l2² (asc, ties →
    * lowest id) — [[assignCells]] under the L2 metric. */
  def assignCellsL2(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[(Int, Array[Long])], nprobe: Int)
                   (qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) Seq.empty[Int]
      else {
        val arr = v.toArray
        bc.value
          .map { case (id, c) =>
            (id, graft.functions.Kernels.l2sqArrays(arr, c)) }
          .sortBy { case (id, d) => (d, id) }
          .take(nprobe).map(_._1).toSeq
      }
    })
    fn(qvec)
  }

  /** IVF under the L2 METRIC (FAISS `IndexIVFFlat` with METRIC_L2): the
    * quantized SEEDS are the centroids (the pre-trained-centroid mode —
    * the engine's Lloyd refinement is cosine-metric and deliberately not
    * mixed in), corpus rows assign to their l2-nearest centroid, each
    * query probes its `nprobe` nearest cells, candidates rank by exact
    * integer l2² asc / neighbor asc. Every step is integer arithmetic —
    * the whole lane replays bit-for-bit in the oracle. Same scale shape
    * as [[ivfTopK]]: assignment is a broadcast projection, the probe
    * join touches nprobe/nlist of the corpus. */
  def ivfL2TopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                seeds: DataFrame, seedId: Column, seedVec: Column,
                k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val spark = corpus.sparkSession
    val cents: Array[(Int, Array[Long])] = seeds
      .select(seedId.cast("int").as("cell"),
        F.vec_quantize(seedVec, 1000).as("cq"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val c = corpus.select(corpusId.as("neighbor_id"),
        F.vec_quantize(corpusVec, 1000).as("cv"))
      .withColumn("cell", assignCellL2(spark, cents)(col("cv")))
    val q = queries.select(queryId.as("query_id"),
        F.vec_quantize(queryVec, 1000).as("qv"))
      .withColumn("cell",
        explode(assignCellsL2(spark, cents, nprobe)(col("qv"))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("l2sq"), col("rn"))
  }

  /** Shared IVF cell pipeline: seed centroids → `iters` exact Lloyd steps
    * (assign the quantized corpus, per-cell vec_mean, requantize) → refined
    * centroid array. Used by [[ivfTopK]], [[ivfPqTopK]], and
    * [[ivfPqResidualTopK]] so the three entry points cannot drift.
    *
    * Every step is deterministic (quantized integer dots, q6 rounding, ties
    * to the lowest cell id), so ANY iteration count stays reproducible in
    * the SQL oracle by unrolling the assign+mean block. Cost per extra
    * iteration: one corpus scan + one map-side-combined aggregate of nlist
    * rows — no shuffle grows with the corpus, so iterating stays affordable
    * at 100 TB (each pass is embarrassingly parallel; only nlist centroid
    * rows ever reach the driver). A cell that loses all members simply
    * drops out (same as the single-step behavior for empty seeds).
    *
    * What iterating buys on weakly-clustered embeddings is BALANCE, not
    * recall: measured max/mean cell size 1.216 → 1.136 at recall@10
    * 0.63 → 0.62 going 1 → 3 iterations (IvfSpec, sf0.001) — the largest
    * cell bounds the worst probe cost and join task, so tighter cells mean
    * tighter latency tails at scale. */
  private[graft] def ivfCentroids(c: DataFrame, seeds: DataFrame,
      seedId: Column, seedVec: Column, iters: Int = 1)
      : Array[(Int, Array[Long])] = {
    require(iters >= 1, s"lloydIters must be >= 1 (got $iters)")
    val spark = c.sparkSession
    var cents = seeds.select(seedId.cast("int").as("sid"),
        F.vec_quantize(seedVec, 1000).as("sv"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    var i = 0
    while (i < iters) {
      cents = c.withColumn("cell", assignCell(spark, cents)(col("cv")))
        .groupBy(col("cell"))
        .agg(graft.functions.KernelAggs.vec_mean(col("cv")).as("cmean"))
        .select(col("cell"), F.vec_quantize(col("cmean"), 1000).as("cq"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      i += 1
    }
    cents
  }

  /** IVF (inverted-file) ANN — the scale path beyond [[lshTopK]]:
    *
    *  1. seed centroids (caller-chosen small set, e.g. a data sample);
    *  2. assign the corpus to its nearest seed ([[assignCell]]);
    *  3. refine: per-cell element-wise mean ([[graft.functions.KernelAggs
    *     .vec_mean]], exact integer partial aggregation), re-quantize;
    *  4. re-assign corpus AND queries to the refined centroids;
    *  5. probe: score only the query's own cell, rank top-k.
    *
    * One Lloyd iteration — deterministic end-to-end (quantized integer dots,
    * q6 rounding), so the ANSI-SQL oracle reproduces every step. Candidate
    * cost per query: nprobe·corpus/nlist instead of corpus — `nprobe` is
    * the recall/cost knob (queries probe their nprobe nearest cells; on the
    * sf0.001 embeddings recall@10 measures 0.345 at nprobe=1 vs 0.63 at
    * nprobe=3, see IvfSpec).
    * Output: (query_id, cell, neighbor_id, cosine, rn). */
  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              seeds: DataFrame, seedId: Column, seedVec: Column,
              k: Int, nprobe: Int = 1, lloydIters: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val spark = corpus.sparkSession
    val c = corpus.select(corpusId.as("neighbor_id"), F.vec_quantize(corpusVec, 1000).as("cv"))
    val refined = ivfCentroids(c, seeds, seedId, seedVec, lloydIters)
    val assigned2 = c.withColumn("cell", assignCell(spark, refined)(col("cv")))
    val q = queries.select(queryId.as("query_id"), F.vec_quantize(queryVec, 1000).as("qv"))
      .withColumn("cell", explode(assignCells(spark, refined, nprobe)(col("qv"))))
    val scored = assigned2.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** Persist an IVF index for a corpus: refined centroids (tiny parquet at
    * `path/centroids`) plus the cell-assigned QUANTIZED corpus partitioned
    * by `cell=<id>` directories (`path/assign`). Build cost is the same as
    * one [[ivfTopK]] call's index side — paid ONCE; every later query
    * batch ([[ivfTopKIndexed]]) reads ONLY its probed cells' directories
    * (static partition pruning on the `cell` dirs, plan-asserted in
    * IvfIndexSpec) and never re-quantizes or re-assigns the corpus. At a
    * 100 TB corpus this turns per-batch ANN from "scan + assign the
    * world" into "read nprobe/nlist of a pre-clustered lake".
    * [[appendIvfIndex]] grows the corpus in place with the SAME stored
    * centroids (cells stay stable; rebuild via this method when drift
    * warrants). Deterministic end to end, so the SQL oracle (q125)
    * reproduces the indexed read bit-for-bit. */
  def writeIvfIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                    seeds: DataFrame, seedId: Column, seedVec: Column,
                    path: String, lloydIters: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val refined = ivfCentroids(c, seeds, seedId, seedVec, lloydIters)
    import spark.implicits._
    refined.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    c.withColumn("cell", assignCell(spark, refined)(col("cv")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assign")
    writeMetric(spark, path, "cosine")
  }

  /** [[assignCell]] under the INNER-PRODUCT metric: centroid with the
    * largest exact integer dot (ties → lowest id) — FAISS
    * METRIC_INNER_PRODUCT's search rule applied to assignment. */
  def assignCellIp(spark: org.apache.spark.sql.SparkSession,
                   centroids: Array[(Int, Array[Long])])
                  (qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) -1
      else {
        val arr = v.toArray
        var bestId = Int.MaxValue
        var best = Long.MinValue
        for ((id, c) <- bc.value) {
          val d = graft.functions.Kernels.dotArrays(arr, c)
          if (d > best || (d == best && id < bestId)) {
            best = d; bestId = id
          }
        }
        bestId
      }
    })
    fn(qvec)
  }

  /** The `nprobe` largest-dot centroid ids (desc, ties → lowest id) —
    * [[assignCells]] under the inner-product metric. */
  def assignCellsIp(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[(Int, Array[Long])], nprobe: Int)
                   (qvec: Column): Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf((v: Seq[Long]) => {
      if (v == null) Seq.empty[Int]
      else {
        val arr = v.toArray
        bc.value
          .map { case (id, c) =>
            (id, graft.functions.Kernels.dotArrays(arr, c)) }
          .sortBy { case (id, d) => (-d, id) }
          .take(nprobe).map(_._1).toSeq
      }
    })
    fn(qvec)
  }

  /** Metric sidecar, written as the last step of every build: `_metric`
    * names the distance the index was built under ("cosine" / "l2" /
    * "ip" / "l2-sq8" / "cosine-sq8"); absence = cosine (the pre-r12
    * layout). [[graft.plans.AnnRewrite]] reads it at registration so the
    * declarative rewrite only answers queries in the INDEX'S metric —
    * pgvector's per-operator-class index binding. */
  private def writeMetric(spark: org.apache.spark.sql.SparkSession,
                          path: String, metric: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = IndexOcc.fsOf(spark, root)
    // a (re)build resets any compaction pointer — readers must resolve to
    // the freshly written `assign`, not a retired version
    fs.delete(new org.apache.hadoop.fs.Path(root, IndexOcc.IvfLayout.ptrName),
      false)
    graft.sinks.LakeDelete.publishSidecar(fs,
      new org.apache.hadoop.fs.Path(root, "_metric"), metric)
  }

  private[graft] def indexMetric(spark: org.apache.spark.sql.SparkSession,
                                 path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path, "_metric")
    graft.sinks.LakeDelete.readSidecar(IndexOcc.fsOf(spark, p), p)
      .map(_.trim).getOrElse("cosine")
  }

  /** Persist an IVF index under the L2 metric: the quantized SEEDS are
    * the centroids (the pre-trained-centroid mode, exactly [[ivfL2TopK]])
    * and the corpus assigns to its l2-nearest cell. Same layout as
    * [[writeIvfIndex]] (same maintenance: append/compact/vacuum/
    * generation-snapshot all apply) plus the `_metric` sidecar. */
  def writeIvfIndexL2(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      seeds: DataFrame, seedId: Column, seedVec: Column,
                      path: String): Unit =
    writeIvfIndexMetric(corpus, corpusId, corpusVec, seeds, seedId, seedVec,
      path, "l2")

  /** Persist an IVF index under the INNER-PRODUCT metric (seeds as
    * centroids, max-dot assignment). */
  def writeIvfIndexIp(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      seeds: DataFrame, seedId: Column, seedVec: Column,
                      path: String): Unit =
    writeIvfIndexMetric(corpus, corpusId, corpusVec, seeds, seedId, seedVec,
      path, "ip")

  /** Persist the FAISS production recipe `IVF,SQ8` (L2 metric): corpus
    * rows assign to their l2-nearest seed centroid on the RAW quantized
    * vector (FAISS assigns before encoding), then land in their cell
    * directory as SQ8 CODES ONLY — the assignment lake stores no raw
    * vectors, which is the 4× at-rest compression the recipe exists for
    * (parquet bit-packs the 0..255 range further). Bounds ([[sq8Train]]
    * over the corpus) ship as a one-row sidecar; the `_metric` sidecar
    * says `l2-sq8` so the declarative-ANN rewrite (which expects raw
    * `cv` columns) correctly keeps the scan for this layout.
    *
    * Maintenance composes unchanged: [[compactIvfIndex]] /
    * [[vacuumIvfIndex]] rewrite the assignment rows column-agnostically,
    * and [[graft.operators.IndexSnapshots]] pins pointer + file
    * identities the same way (Sq8Spec proves probes survive a
    * compaction). */
  def writeIvfIndexSq8(corpus: DataFrame, corpusId: Column,
                       corpusVec: Column, seeds: DataFrame, seedId: Column,
                       seedVec: Column, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents: Array[(Int, Array[Long])] = seeds
      .select(seedId.cast("int").as("cell"),
        F.vec_quantize(seedVec, 1000).as("cq"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val (mn, mx) = sq8Train(corpus, corpusVec)
    Seq((mn.toSeq, mx.toSeq)).toDF("mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sq8_bounds")
    corpus.select(corpusId.as("neighbor_id"),
        F.vec_quantize(corpusVec, 1000).as("cv"))
      .withColumn("cell", assignCellL2(spark, cents)(col("cv")))
      .withColumn("codes", F.vec_sq8_encode(col("cv"),
        typedlit(mn.toSeq), typedlit(mx.toSeq)))
      .drop("cv")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assign")
    writeMetric(spark, path, "l2-sq8")
  }

  /** The COSINE-metric `IVF,SQ8` layout — the compressed TOKEN index the
    * multi-vector serving lanes need (ColBERTv2/PLAID — Santhanam et al.
    * 2022 — compress stored token vectors for exactly this reason: at
    * 100 TB the token-level vectors dominate index storage, and SQ8 cuts
    * the at-rest assignment lake 4×). Identical cell geometry to
    * [[writeIvfIndex]] (one Lloyd refinement, cosine assignment on the
    * RAW quantized vector, so [[graft.plans.MaxSimRewrite]]'s plan-time
    * centroid probe needs no changes), but the assignment lake stores
    * SQ8 CODES ONLY; probes reconstruct against the trained bounds and
    * cosine-score the reconstruction (ADC), and the exact rerank always
    * runs on raw vectors from the corpus. Metric sidecar: `cosine-sq8`. */
  def writeIvfIndexSq8Cos(corpus: DataFrame, corpusId: Column,
                          corpusVec: Column, seeds: DataFrame,
                          seedId: Column, seedVec: Column,
                          path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val refined = ivfCentroids(c, seeds, seedId, seedVec, 1)
    refined.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val (mn, mx) = sq8Train(corpus, corpusVec)
    Seq((mn.toSeq, mx.toSeq)).toDF("mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sq8_bounds")
    c.withColumn("cell", assignCell(spark, refined)(col("cv")))
      .withColumn("codes", F.vec_sq8_encode(col("cv"),
        typedlit(mn.toSeq), typedlit(mx.toSeq)))
      .drop("cv")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assign")
    writeMetric(spark, path, "cosine-sq8")
  }

  /** The persisted SQ8 index's trained bounds (cached like
    * [[readCentroids]] — same token, same staleness contract). */
  private[graft] def readSq8Bounds(spark: org.apache.spark.sql.SparkSession,
                                   path: String): (Array[Long], Array[Long]) =
    sidecarCached(spark, path, "sq8_bounds") {
      sidecarLoads.incrementAndGet()
      val row = spark.read.parquet(s"$path/sq8_bounds").head()
      (row.getSeq[Long](0).toArray, row.getSeq[Long](1).toArray)
    }

  /** Probe the persisted `IVF,SQ8` index: `nprobe` l2-nearest cells per
    * query, candidates RECONSTRUCTED from their codes (one codegen'd
    * decode per candidate row), ranked by exact integer ADC l2² asc /
    * neighbor asc. Reads nprobe cell directories + two tiny sidecars —
    * never a raw vector. Output
    * `(query_id, cell, neighbor_id, adc_dist, rn)`. */
  def ivfSq8TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame, queryId: Column,
                        queryVec: Column, k: Int,
                        nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents = readCentroids(spark, path)
    val (mn, mx) = readSq8Bounds(spark, path)
    // driver-side probe: same kernel + ordering as assignCellsL2's UDF
    val (q, cells) = probeQueriesDriver(spark, queries, queryId, queryVec,
      v => cents.map { case (id, c) => (id, Kernels.l2sqArrays(v, c)) }
        .sortBy { case (id, d) => (d, id) }.take(nprobe).map(_._1).toSeq)
    val assigned = readAssign(spark, path).filter(cellFilter(cells))
      .withColumn("rv", F.vec_sq8_recon(col("codes"),
        typedlit(mn.toSeq), typedlit(mx.toSeq)))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", F.vec_l2sq_long(col("rv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("adc_dist"), col("rn"))
  }

  /** The full FAISS serving recipe: SQ8 shortlist from the index
    * ([[ivfSq8TopKIndexed]], `k·mult` per query), exact integer L2²
    * rerank against raw vectors fetched from the PRIMARY store for
    * shortlist rows only (at scale: a semi-join of shortlist-many point
    * reads, never a corpus scan). Output
    * `(query_id, neighbor_id, l2sq, rn)`. */
  def ivfSq8RerankTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                              path: String, corpus: DataFrame,
                              corpusId: Column, corpusVec: Column,
                              queries: DataFrame, queryId: Column,
                              queryVec: Column, k: Int, nprobe: Int = 1,
                              mult: Int = 4): DataFrame = {
    require(mult >= 1, s"mult must be >= 1 (got $mult)")
    val shortlist = ivfSq8TopKIndexed(spark, path, queries, queryId,
        queryVec, k * mult, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val exact = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val joined = shortlist.join(exact, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(joined, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("l2sq"), col("rn"))
  }

  /** [[ivfSq8RerankTopKIndexed]] with the exact-rerank fetch served from
    * a BLOOM-INDEXED PRIMARY LAKE (VERDICT r12 #5): the shortlist's
    * neighbor ids drive [[DynamicPrune.readSemiFiltered]], so the
    * raw-vector fetch reads only the lake files whose bloom / min-max
    * envelopes can hold shortlist rows — shortlist-many point reads,
    * never a corpus scan (the corpus-DataFrame lane above joins the
    * shortlist against a FULL scan: fine as the oracle-exact batch
    * shape, wrong as the serving tail at 100 TB). Row-identical to that
    * lane on the same data (RerankLakeSpec, which also pins the
    * file-count pruning). `lakeRoot` is a z-lake whose manifest carries
    * a bloom on `lakeId` ([[graft.sources.ZLake.writeManifest]]). */
  def ivfSq8RerankTopKLake(spark: org.apache.spark.sql.SparkSession,
                           path: String, lakeRoot: String,
                           lakeId: String, lakeVec: String,
                           queries: DataFrame, queryId: Column,
                           queryVec: Column, k: Int, nprobe: Int = 1,
                           mult: Int = 4): DataFrame = {
    require(mult >= 1, s"mult must be >= 1 (got $mult)")
    val shortlist = ivfSq8TopKIndexed(spark, path, queries, queryId,
        queryVec, k * mult, nprobe)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false) // drives pruning AND the join — compute once
    val exact = DynamicPrune.readSemiFiltered(spark, lakeRoot, lakeId,
        shortlist, col("neighbor_id"))
      .select(col(lakeId).as("neighbor_id"),
        F.vec_quantize(col(lakeVec), 1000).as("cv"))
    val q = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    val joined = exact.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(joined, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("l2sq"), col("rn"))
  }

  private def writeIvfIndexMetric(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, seeds: DataFrame, seedId: Column, seedVec: Column,
      path: String, metric: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents: Array[(Int, Array[Long])] = seeds
      .select(seedId.cast("int").as("cell"),
        F.vec_quantize(seedVec, 1000).as("cq"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val assign = metric match {
      case "l2" => assignCellL2(spark, cents) _
      case "ip" => assignCellIp(spark, cents) _
      case m => throw new IllegalArgumentException(s"unknown metric $m")
    }
    corpus.select(corpusId.as("neighbor_id"),
        F.vec_quantize(corpusVec, 1000).as("cv"))
      .withColumn("cell", assign(col("cv")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assign")
    writeMetric(spark, path, metric)
  }

  /** [[ivfTopKIndexed]] under the L2 metric: probe the `nprobe`
    * l2-nearest stored cells, rank by exact integer l2² asc / neighbor
    * asc. Output: (query_id, cell, neighbor_id, l2sq, rn). */
  def ivfL2TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, queryId: Column,
                       queryVec: Column, k: Int,
                       nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents = readCentroids(spark, path)
    // driver-side probe: same kernel + ordering as assignCellsL2's UDF
    val (q, cells) = probeQueriesDriver(spark, queries, queryId, queryVec,
      v => cents.map { case (id, c) => (id, Kernels.l2sqArrays(v, c)) }
        .sortBy { case (id, d) => (d, id) }.take(nprobe).map(_._1).toSeq)
    val assigned = readAssign(spark, path).filter(cellFilter(cells))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("l2sq", F.vec_l2sq_long(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("l2sq").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("l2sq"), col("rn"))
  }

  /** [[ivfTopKIndexed]] under the inner-product metric: probe the
    * `nprobe` largest-dot stored cells, rank by exact integer dot desc /
    * neighbor asc. Output: (query_id, cell, neighbor_id, dot, rn). */
  def ivfIpTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, queryId: Column,
                       queryVec: Column, k: Int,
                       nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents = readCentroids(spark, path)
    // driver-side probe: same kernel + ordering as assignCellsIp's UDF
    val (q, cells) = probeQueriesDriver(spark, queries, queryId, queryVec,
      v => cents.map { case (id, c) => (id, Kernels.dotArrays(v, c)) }
        .sortBy { case (id, d) => (-d, id) }.take(nprobe).map(_._1).toSeq)
    val assigned = readAssign(spark, path).filter(cellFilter(cells))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", F.vec_dot_long(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("dot").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("dot"), col("rn"))
  }

  /** Process-wide METADATA cache for the tiny per-index sidecars every
    * probe and plan-time rewrite re-read as a small Spark job (VERDICT
    * r16 #5): keyed by the sidecar directory's URI, validated on EVERY
    * call against a driver-side identity token — the sidecar dir's
    * (name, len, mtime) file listing plus the `_assign` pointer state —
    * so any rewrite (a rebuild's fresh part-file names, a compaction's
    * pointer swap) is re-read on the next access; staleness is pinned in
    * IvfIndexSpec. One driver FS listing replaces one Spark collect job
    * per probe/planning. Values are treated as immutable by all callers. */
  private val sidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  private def sidecarCached[T <: AnyRef](
      spark: org.apache.spark.sql.SparkSession, path: String, sub: String)(
      load: => T): T = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def stamp(p: org.apache.hadoop.fs.Path): String =
      try {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).map(s =>
            s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
            .sorted.mkString(",")
        else s"${st.getLen}:${st.getModificationTime}"
      } catch { case _: java.io.FileNotFoundException => "absent" }
    val dir = new org.apache.hadoop.fs.Path(root, sub)
    val token = stamp(dir) + "|" +
      stamp(new org.apache.hadoop.fs.Path(root, "_assign"))
    val key = dir.toUri.toString
    val cached = sidecarCache.get(key)
    if (cached != null && cached._1 == token) cached._2.asInstanceOf[T]
    else {
      val v = load
      sidecarCache.put(key, (token, v))
      v
    }
  }

  /** Test seam: sidecar loads that went to Spark (cache misses) — the
    * IvfIndexSpec cache/staleness contract counts it. */
  private[graft] val sidecarLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The stored centroid array of an index at `path` (also consumed by
    * [[graft.plans.AnnRewrite]] for plan-time centroid probing). */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Array[(Int, Array[Long])] =
    sidecarCached(spark, path, "centroids") {
      sidecarLoads.incrementAndGet()
      spark.read.parquet(s"$path/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
    }

  /** Driver-side query probe shared by every `ivf*TopKIndexed`: collect
    * the quantized query side ONCE (it is broadcast downstream, so it is
    * driver-bounded by the existing contract already), rank each query's
    * probe cells on the DRIVER with the same integer kernels the
    * data-side assignCells* UDFs run (identical values ⇒ identical cells
    * ⇒ identical results), and return the exploded (query_id, qv, cell)
    * frame as a LOCAL relation plus the distinct probed cells. Replaces
    * the old explode-UDF + localCheckpoint + distinct-collect query side
    * — two jobs and a checkpoint per probe — with one collect; the local
    * relation also broadcasts without re-reading checkpoint blocks, and
    * this is the data-side twin of the plan-time probe
    * [[maxSimServeConstQ]] / [[graft.plans.AnnRewrite]] already run.
    * Null query vectors probe no cells, exactly like the UDF path. */
  private def probeQueriesDriver(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, queryId: Column, queryVec: Column,
      rank: Array[Long] => Seq[Int]): (DataFrame, Seq[Int]) = {
    val qflat = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv"))
    // fail-loud size guard (VERDICT r16 #4): the query side is broadcast
    // downstream, so the contract already bounds it driver-side — but a
    // contract-violating caller (a corpus passed as queries) should get
    // this message, not a driver OOM. The limit caps what collect can
    // pull before the require fires.
    val maxQueryRows = 4 << 20
    val rows = qflat.limit(maxQueryRows + 1).collect()
    require(rows.length <= maxQueryRows,
      s"indexed ANN probe got more than $maxQueryRows query vectors — " +
        "the query side of an indexed probe is collected and broadcast " +
        "by contract; probe in batches or pass the smaller side as queries")
    val schema = org.apache.spark.sql.types.StructType(
      qflat.schema.fields :+ org.apache.spark.sql.types.StructField(
        "cell", org.apache.spark.sql.types.IntegerType, nullable = false))
    val exploded = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val cells = scala.collection.mutable.SortedSet.empty[Int]
    rows.foreach { r =>
      val v = r.getSeq[Long](1)
      if (v != null) rank(v.toArray).foreach { c =>
        cells += c
        exploded.add(org.apache.spark.sql.Row(r.get(0), v, c))
      }
    }
    (spark.createDataFrame(exploded, schema), cells.toSeq)
  }

  /** `cell IN (probed cells)` as a pushable scan predicate; `false` when
    * no cell was probed (every query vector null — the join below would
    * be empty anyway, this keeps `isin` well-formed). */
  private def cellFilter(cells: Seq[Int]): Column =
    if (cells.isEmpty) lit(false)
    else col("cell").isin(cells.map(Int.box): _*)

  /** The index's ACTIVE assignment directory: named by the `_assign`
    * pointer file when present (written atomically by
    * [[compactIvfIndex]] — the Iceberg version-hint pattern), the
    * original `assign` otherwise ([[IndexOcc]]). */
  private[graft] def assignDir(spark: org.apache.spark.sql.SparkSession,
                               path: String): String =
    IndexOcc.activeDir(spark, path, IndexOcc.IvfLayout).toString

  /** The assignment GENERATION CHAIN, newest first ([[IndexLayers]]):
    * the active dir plus any base generations a selective compaction
    * layered over. One-element for a fresh or fully-compacted index. */
  private[graft] def assignLayers(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Seq[IndexLayers.Layer] =
    IndexOcc.chain(spark, path, IndexOcc.IvfLayout)

  /** Every probe's view of the assignment lake: the shadow-filtered
    * union of the generation chain. Collapses to a plain partitioned
    * read (identical plan, identical cell pruning) when the chain is one
    * layer — the common case between selective compactions. */
  private[graft] def readAssign(spark: org.apache.spark.sql.SparkSession,
                                path: String): org.apache.spark.sql.DataFrame =
    IndexLayers.readChain(spark, assignLayers(spark, path), "cell")

  /** SELECTIVELY compact the assignment lake (VERDICT r12 #4): every
    * append ([[appendIvfIndex]]) adds files under the hot cells'
    * directories, and at 100 TB the small-files tax on probe reads grows
    * without bound — but rewriting the WHOLE assignment per maintenance
    * cycle is its own scale bug (a full-index rewrite to fix a handful of
    * hot cells). Compaction rewrites ONLY cells whose visible file
    * count exceeds `targetFilesPerCell` into a new versioned dir that
    * LAYERS over the current generation ([[IndexLayers]] — a
    * `_layer.json` names the base and the replaced cells); untouched
    * cells' files are never rewritten, copied, or moved — probes keep
    * serving them from their original generation, byte-identical. The
    * chain flattens (full rewrite, no manifest) when it reaches
    * [[IndexLayers.MaxLayers]], bounding per-probe listings. Publication
    * is one ATOMIC pointer overwrite ([[IndexOcc.compact]]): readers see
    * the old or the new generation, never a mix; a crash mid-compaction
    * leaves the old index fully live. Retired directories stay on disk
    * for in-flight readers until [[vacuumIvfIndex]]. Row content is
    * unchanged, so probe results are bit-identical (AnnRewriteSpec,
    * CompactionSpec). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, targetFilesPerCell: Int = 1): Unit = {
    require(targetFilesPerCell >= 1,
      s"targetFilesPerCell must be >= 1, got $targetFilesPerCell")
    IndexOcc.compact(spark, path, IndexOcc.IvfLayout, targetFilesPerCell,
      readIvfFence(spark, path).getOrElse(-1L))
    ()
  }

  /** Delete retired assignment directories (`assign` and `assign-v*`
    * outside the LIVE GENERATION CHAIN) — run once in-flight readers of the
    * pre-compaction index have drained. Versions pinned by an
    * [[IndexSnapshots]] generation snapshot are KEPT (deleting them would
    * make the pin unrestorable); a layered chain keeps every base a live
    * or pinned layer still reads through. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): Int =
    IndexOcc.vacuum(spark, path, IndexOcc.IvfLayout)

  /** Assign a NEW corpus batch to the index's STORED centroids and append
    * it under the matching `cell=` directories — incremental corpus
    * growth without touching existing cells' files or recomputing
    * anything (the centroids are fixed; queries immediately see the new
    * vectors). The batch stages outside the writer lock and adopts into
    * the active dir re-resolved under it ([[IndexOcc.append]]). */
  def appendIvfIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                     path: String): Unit =
    appendIvf(corpus, corpusId, corpusVec, path, sq8 = false)

  /** Append a batch to a persisted `IVF,SQ8` index: rows assign
    * l2-nearest on their RAW quantized vectors, ENCODE against the
    * index's TRAINED bounds (FAISS semantics — bounds never retrain on
    * append; out-of-range values clamp, which is the quantizer's
    * saturation contract), and adopt into the active assignment dir
    * like [[appendIvfIndex]]. */
  def appendIvfIndexSq8(corpus: DataFrame, corpusId: Column,
                        corpusVec: Column, path: String): Unit =
    appendIvf(corpus, corpusId, corpusVec, path, sq8 = true)

  private def appendIvf(corpus: DataFrame, id: Column, vec: Column,
                        path: String, sq8: Boolean): Unit = {
    val spark = corpus.sparkSession
    val metric = indexMetric(spark, path)
    val codesOnly = metric == "l2-sq8" || metric == "cosine-sq8"
    // a raw-vector append into a codes-only lake would silently corrupt
    // every later probe — refuse loudly, the sq8 append encodes
    if (sq8) require(codesOnly,
      s"$path is not an IVF,SQ8 index — use appendIvfIndex")
    else if (codesOnly) throw new IllegalArgumentException(
      s"$path is an IVF,SQ8 index (codes-only rows) — use appendIvfIndexSq8")
    IndexOcc.append(spark, path, IndexOcc.IvfLayout)(stageCells(cellRows(
      spark, path, metric, readCentroids(spark, path), corpus, id, vec), _))(
      _ => ())
  }

  /** A batch's assignment rows under the INDEX'S metric (the `_metric`
    * sidecar): an append into an L2/IP index must land rows in the cells
    * its probes will search, not cosine's, and an IVF,SQ8 index stores
    * the batch encoded against its trained bounds (codes, no raw `cv`). */
  private def cellRows(spark: org.apache.spark.sql.SparkSession,
                       path: String, metric: String,
                       cents: Array[(Int, Array[Long])], batch: DataFrame,
                       id: Column, vec: Column): DataFrame = {
    val quantized = batch.select(id.as("neighbor_id"),
      F.vec_quantize(vec, 1000).as("cv"))
    metric match {
      case "l2-sq8" | "cosine-sq8" =>
        val (mn, mx) = readSq8Bounds(spark, path)
        val assign: Column => Column =
          if (metric == "cosine-sq8") assignCell(spark, cents)
          else assignCellL2(spark, cents)
        quantized
          .withColumn("cell", assign(col("cv")))
          .withColumn("codes", F.vec_sq8_encode(col("cv"),
            typedlit(mn.toSeq), typedlit(mx.toSeq)))
          .drop("cv")
      case "l2" => quantized
        .withColumn("cell", assignCellL2(spark, cents)(col("cv")))
      case "ip" => quantized
        .withColumn("cell", assignCellIp(spark, cents)(col("cv")))
      case _ => quantized
        .withColumn("cell", assignCell(spark, cents)(col("cv")))
    }
  }

  private def stageCells(rows: DataFrame,
                         stage: org.apache.hadoop.fs.Path): Unit =
    rows.write.mode("overwrite").partitionBy("cell").parquet(stage.toString)

  private def readIvfFence(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, "_ingest_fence")
    graft.sinks.LakeDelete.readSidecar(IndexOcc.fsOf(spark, p), p)
      .map(_.trim.toLong)
  }

  /** FENCED, EXACTLY-ONCE batch ingest into an EXISTING IVF index — the
    * `foreachBatch` body of [[streamIngestIvf]], with the index's metric
    * dispatched exactly like the append verbs (an IVF,SQ8 index encodes
    * the batch against its trained bounds). Semantics are
    * [[IndexOcc.ingest]]'s, the fence being the `_ingest_fence` sidecar:
    * a batch at-or-below it no-ops (the streaming replay path);
    * otherwise uncommitted `ingest<B>-*` residue is purged under the
    * writer lock, the batch adopts with `ingest<batchId>-` names, and the
    * fence advance (one atomic overwrite) is the commit point. Centroids
    * are trained offline (the build verbs) — streaming ingest only grows
    * cells, the FAISS serving contract. */
  def ingestBatchIvf(batch: DataFrame, id: Column, vec: Column,
                     path: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val fenceFile = new org.apache.hadoop.fs.Path(path, "_ingest_fence")
    val adopted = IndexOcc.ingest(spark, path, IndexOcc.IvfLayout, batchId)(
      readIvfFence(spark, path))(identity) { (_, stage) =>
      val cents = readCentroids(spark, path)
      require(cents.nonEmpty, s"no IVF index at $path — build it first " +
        "(writeIvfIndex*); streaming ingest does not train centroids")
      stageCells(cellRows(spark, path, indexMetric(spark, path), cents,
        batch, id, vec), stage)
    } { (_, _) =>
      graft.sinks.LakeDelete.publishSidecar(
        IndexOcc.fsOf(spark, fenceFile), fenceFile, batchId.toString)
    }
    // declaratively-served corpora registered with autoRefresh re-arm
    // their freshness fingerprint on every committed batch (VERDICT r13
    // #5) — without this, streaming ingest advances the index while the
    // AnnRewrite guard keeps failing and silently serves full scans
    if (adopted) {
      graft.plans.AnnIndex.onIndexAdvanced(spark, path)
      graft.plans.MaxSimIndex.onIndexAdvanced(spark, path)
    }
    adopted
  }

  /** Maintain an IVF index from a STREAM: checkpointed `foreachBatch`
    * over [[ingestBatchIvf]] — restarts replay at-least-once, the fence
    * makes the index exactly-once. */
  def streamIngestIvf(stream: DataFrame, id: Column, vec: Column,
                      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        ingestBatchIvf(b, id, vec, path, bid); ()
      }
      .start()

  /** ANN top-k over a persisted IVF index ([[writeIvfIndex]]): queries
    * assign to their `nprobe` nearest STORED centroids, the probed cell
    * ids become a PARTITION filter on the assignment lake (only those
    * `cell=` directories are listed or scanned — the cells are
    * driver-known because the query batch is broadcast-small by the same
    * contract every ANN entry point here has), and scoring joins the
    * pruned cells against the broadcast queries. Row-identical to
    * [[ivfTopK]] with the same seeds/iters/nprobe/k (IvfIndexSpec).
    * Output: (query_id, cell, neighbor_id, cosine, rn). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, queryId: Column, queryVec: Column,
                     k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents = readCentroids(spark, path)
    // driver-side probe: same kernel + ordering as assignCells' UDF
    val (q, cells) = probeQueriesDriver(spark, queries, queryId, queryVec,
      v => cents.map { case (id, c) => (id, Kernels.cosineQ6Arrays(v, c)) }
        .sortBy { case (id, cos) => (-cos, id) }.take(nprobe).map(_._1).toSeq)
    val assigned = readAssign(spark, path).filter(cellFilter(cells))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("cosine"), col("rn"))
  }

  /** Per-subspace PQ scoring kernels over a broadcast codebook. Built by
    * [[pqOps]] so every UDF closure captures only locals + the broadcast
    * handle — never a SparkSession. */
  private final case class PqOps(
      dim: Int, sub: Int,
      codesU: org.apache.spark.sql.expressions.UserDefinedFunction,
      dtU: org.apache.spark.sql.expressions.UserDefinedFunction,
      adcU: org.apache.spark.sql.expressions.UserDefinedFunction)

  private def pqOps(spark: org.apache.spark.sql.SparkSession,
                    cb: Array[Array[Long]], m: Int, numCodes: Int): PqOps = {
    val dim = cb.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val bc = spark.sparkContext.broadcast(cb)
    val (mL, nL, sL) = (m, numCodes, sub)

    // a function literal (Serializable) so the udf closures capture it by
    // value instead of referencing an enclosing-object method
    val l2: (Array[Long], Int, Array[Long], Int, Int) => Long =
      (a, ao, b, bo, n) => {
        var s = 0L; var i = 0
        while (i < n) { val d = a(ao + i) - b(bo + i); s += d * d; i += 1 }
        s
      }
    // corpus row → m codes (argmin L2² per subspace, tie → lowest)
    val codesU = udf((v: Seq[Long]) => {
      val av = v.toArray; val codes = new Array[Int](mL)
      var j = 0
      while (j < mL) {
        var best = 0; var bestD = Long.MaxValue; var r = 0
        while (r < nL) {
          val d = l2(av, j * sL, bc.value(r), j * sL, sL)
          if (d < bestD) { bestD = d; best = r }
          r += 1
        }
        codes(j) = best; j += 1
      }
      codes
    })
    // query row → m·numCodes distance table
    val dtU = udf((v: Seq[Long]) => {
      val av = v.toArray; val dt = new Array[Long](mL * nL)
      var j = 0
      while (j < mL) {
        var r = 0
        while (r < nL) {
          dt(j * nL + r) = l2(av, j * sL, bc.value(r), j * sL, sL); r += 1
        }
        j += 1
      }
      dt
    })
    // ADC distance = m table lookups
    val adcU = udf((codes: Seq[Int], dt: Seq[Long]) => {
      var s = 0L; var j = 0
      while (j < mL) { s += dt(j * nL + codes(j)); j += 1 }
      s
    })
    PqOps(dim, sub, codesU, dtU, adcU)
  }

  /** Build the PQ codebook over quantized corpus `c` (neighbor_id, cv):
    * seeds = the `numCodes` lowest-id rows' subvectors; with `refine`, one
    * k-means (Lloyd) step per subspace — every corpus subvector is assigned
    * to its nearest seed codeword and each codeword becomes the EXACT
    * element-wise mean of its assignees ([[graft.functions.KernelAggs
    * .vec_mean]], q6-rounded, re-rounded to the integer grid; codewords
    * with no assignees keep their seed). The same deterministic refinement
    * pattern [[ivfTopK]] uses for cells, so the ANSI-SQL oracle reproduces
    * every codeword (q98). One extra corpus pass + an m·numCodes-row
    * aggregate — the codebook build stays a driver-sized collect. */
  private[operators] def pqCodebook(c: DataFrame, m: Int, numCodes: Int,
                                    refine: Boolean): Array[Array[Long]] = {
    val spark = c.sparkSession
    val cb0: Array[Array[Long]] = c.orderBy(col("neighbor_id")).limit(numCodes)
      .collect().map(_.getSeq[Long](1).toArray)
    require(cb0.length == numCodes, s"corpus has fewer than $numCodes rows")
    if (!refine) return cb0
    val ops = pqOps(spark, cb0, m, numCodes)
    val sub = ops.sub
    val means = c.withColumn("codes", ops.codesU(col("cv")))
      .select(explode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          s"j -> struct(j AS j, codes[j] AS code, " +
          s"slice(cv, j * $sub + 1, $sub) AS sv))")).as("e"))
      .groupBy(col("e.j").as("j"), col("e.code").as("code"))
      .agg(graft.functions.KernelAggs.vec_mean(col("e.sv")).as("mean"))
      .select(col("j"), col("code"), F.vec_quantize(col("mean"), 1).as("cw"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toArray)).toMap
    Array.tabulate(numCodes) { r =>
      val out = new Array[Long](ops.dim)
      var j = 0
      while (j < m) {
        val cw = means.getOrElse((j, r),
          java.util.Arrays.copyOfRange(cb0(r), j * sub, (j + 1) * sub))
        System.arraycopy(cw, 0, out, j * sub, sub)
        j += 1
      }
      out
    }
  }

  /** Product-quantization ANN (asymmetric distance): the memory-scale path.
    *
    * At 100 TB the corpus' raw vectors do not fit executor memory or a
    * reasonable scan budget; PQ stores each vector as `m` small codes (one
    * byte-ish each instead of `dim` floats — a 32× compression at dim=64,
    * m=8) and scores a query against codes only:
    *
    *  1. codebook: per subspace j (dim/m components), `numCodes` codewords —
    *     deterministically seeded from the sub-vectors of the `numCodes`
    *     lowest-id corpus rows; `refineCodebook = true` runs one exact
    *     k-means step on top ([[pqCodebook]] — still fully reproducible in
    *     the ANSI-SQL oracle, q98);
    *  2. encode: corpus row → codes[j] = argmin_r L2²(subvec_j, codeword_r)
    *     (tie → lowest r) — a projection over a broadcast codebook, no
    *     shuffle, the corpus is scanned once and reduced to its codes;
    *  3. ADC: each query precomputes its distance table dt[j][r] = L2²
    *     (query subvec_j, codeword_r) once (m·numCodes entries), and a
    *     corpus row's approximate distance is m table lookups
    *     Σ_j dt[j][codes[j]] — no vector arithmetic on the big side.
    *
    * All arithmetic is integer over scale-1000 quantized vectors — exact and
    * engine-independent. Output: (query_id, neighbor_id, adc_dist, rn),
    * ascending distance, ties by neighbor id. */
  def pqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
             queries: DataFrame, queryId: Column, queryVec: Column,
             m: Int, numCodes: Int, k: Int,
             refineCodebook: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv")).filter(col("cv").isNotNull)
    val ops = pqOps(spark,
      pqCodebook(c, m, numCodes, refineCodebook), m, numCodes)
    val encoded = c.select(col("neighbor_id"), ops.codesU(col("cv")).as("codes"))
    val q = queries.select(queryId.as("query_id"),
        F.vec_quantize(queryVec, 1000).as("qv")).filter(col("qv").isNotNull)
      .select(col("query_id"), ops.dtU(col("qv")).as("dt"))
    val scored = encoded.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", ops.adcU(col("codes"), col("dt")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rn"))
  }

  /** IVF-PQ — the two scale levers composed: IVF prunes the candidate SET
    * (each query probes `nprobe` of the `nlist` cells, exactly [[ivfTopK]]'s
    * cell pipeline) while PQ prunes the candidate BYTES (cell members are
    * scored by ADC over their m codes, never their raw vectors). At 100 TB
    * this is the standard shape: the corpus lives as (cell, codes) — ~32×
    * smaller than raw — and a query touches nprobe/nlist of it with m table
    * lookups per candidate. The equi-join on `cell` broadcasts the query
    * side; the corpus is never shuffled. Recall: IvfPqSpec gates IVF-PQ at
    * equal candidate budget against PQ over a blind sample — the cells must
    * EARN their pruning. Output: (query_id, cell, neighbor_id, adc_dist,
    * rn), ascending distance, ties by neighbor id. */
  def ivfPqTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                queries: DataFrame, queryId: Column, queryVec: Column,
                seeds: DataFrame, seedId: Column, seedVec: Column,
                m: Int, numCodes: Int, k: Int, nprobe: Int = 1,
                refineCodebook: Boolean = false,
                lloydIters: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val spark = corpus.sparkSession
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv")).filter(col("cv").isNotNull)
    // IVF side: identical cell pipeline to ivfTopK (seed → refine → assign)
    val refined = ivfCentroids(c, seeds, seedId, seedVec, lloydIters)
    // PQ side: global codebook; the corpus is reduced to (cell, codes)
    val ops = pqOps(spark,
      pqCodebook(c, m, numCodes, refineCodebook), m, numCodes)
    val encoded = c
      .withColumn("cell", assignCell(spark, refined)(col("cv")))
      .select(col("neighbor_id"), col("cell"), ops.codesU(col("cv")).as("codes"))
    val q = queries.select(queryId.as("query_id"),
        F.vec_quantize(queryVec, 1000).as("qv")).filter(col("qv").isNotNull)
      .withColumn("cell", explode(assignCells(spark, refined, nprobe)(col("qv"))))
      .select(col("query_id"), col("cell"), ops.dtU(col("qv")).as("dt"))
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", ops.adcU(col("codes"), col("dt")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("adc_dist"), col("rn"))
  }

  /** Residual IVF-PQ — the standard refinement over [[ivfPqTopK]]: codes
    * quantize RESIDUALS (vector − its cell's centroid) instead of raw
    * vectors, exploiting d(q,x) = d(q−c, x−c) for same-cell pairs; ADC
    * builds the query's distance table from its PER-CELL residual (one
    * small table per probed cell, still m lookups per candidate). The
    * codebook is seeded from the `numCodes` lowest-id rows' residuals —
    * deterministic, so the ANSI-SQL oracle rebuilds every step (q101).
    *
    * MEASURED caveat (IvfPqSpec): residual coding pays off when cells are
    * tight (centroids close to members → residuals concentrate). On the
    * weakly-clustered synthetic embeddings, recall@10 at nprobe=3 is 0.190
    * residual vs 0.275 raw — residuals are no tighter than the raw
    * distribution there, so the identity buys nothing and the sampled
    * residual codebook quantizes worse. Prefer [[ivfPqTopK]] unless the
    * corpus clusters well; the spec records both numbers every run.
    * Output: (query_id, cell, neighbor_id, adc_dist, rn). */
  def ivfPqResidualTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                        queries: DataFrame, queryId: Column, queryVec: Column,
                        seeds: DataFrame, seedId: Column, seedVec: Column,
                        m: Int, numCodes: Int, k: Int, nprobe: Int = 1,
                        lloydIters: Int = 1)
      : DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val spark = corpus.sparkSession
    val c = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv")).filter(col("cv").isNotNull)
    val refined = ivfCentroids(c, seeds, seedId, seedVec, lloydIters)
    val centBc = spark.sparkContext.broadcast(refined.toMap)
    val residU = udf((v: Seq[Long], cell: Int) => {
      val cent = centBc.value(cell)
      val out = new Array[Long](cent.length)
      var i = 0
      while (i < cent.length) { out(i) = v(i) - cent(i); i += 1 }
      out
    })
    val withCell = c
      .withColumn("cell", assignCell(spark, refined)(col("cv")))
      .withColumn("rv", residU(col("cv"), col("cell")))
    val cb0 = pqCodebook(
      withCell.select(col("neighbor_id"), col("rv").as("cv")),
      m, numCodes, refine = false)
    val ops = pqOps(spark, cb0, m, numCodes)
    val encoded = withCell.select(col("neighbor_id"), col("cell"),
      ops.codesU(col("rv")).as("codes"))
    val q = queries.select(queryId.as("query_id"),
        F.vec_quantize(queryVec, 1000).as("qv")).filter(col("qv").isNotNull)
      .withColumn("cell", explode(assignCells(spark, refined, nprobe)(col("qv"))))
      .withColumn("qrv", residU(col("qv"), col("cell")))
      .select(col("query_id"), col("cell"), ops.dtU(col("qrv")).as("dt"))
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", ops.adcU(col("codes"), col("dt")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("adc_dist"), col("rn"))
  }

  /** LSH-bucketed ANN: probe only the query's SRP bucket. Recall < 1 by
    * construction; bucket collision ⇒ similar direction. Output as
    * [[bruteForceTopK]] plus the bucket id. */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
              queries: DataFrame, queryId: Column, queryVec: Column,
              k: Int, planes: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), F.vec_quantize(corpusVec, 1000).as("cv"))
      .withColumn("bucket", srpBucket(col("cv"), planes))
    val q = queries.select(queryId.as("query_id"), F.vec_quantize(queryVec, 1000).as("qv"))
      .withColumn("bucket", srpBucket(col("qv"), planes))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("bucket"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** IVF-PQ with an EXACT RERANK tail (the Faiss IndexRefineFlat shape,
    * and how production ANN actually ships): ADC retrieves a candidate
    * pool of `k * refineFactor` per query through [[ivfPqTopK]] — codes
    * only, the corpus's raw vectors never move — then ONLY the
    * candidates' raw vectors are fetched (a broadcast-hash join of the
    * tiny candidate list against the corpus: the corpus scan is pruned,
    * nothing shuffles) and re-scored with the exact cosine the
    * brute-force oracle uses. PQ's quantization error now only has to
    * keep true neighbors inside the top-`k*refineFactor`, not rank them
    * — recall rises sharply for `queries × k × refineFactor` extra exact
    * distances, a vanishing cost at any scale. Output matches
    * [[bruteForceTopK]]: (query_id, neighbor_id, cosine, rn). */
  def ivfPqRerankTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                      queries: DataFrame, queryId: Column, queryVec: Column,
                      seeds: DataFrame, seedId: Column, seedVec: Column,
                      m: Int, numCodes: Int, k: Int, nprobe: Int = 1,
                      refineFactor: Int = 4,
                      refineCodebook: Boolean = false,
                      lloydIters: Int = 1): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1 (got $refineFactor)")
    val cand = ivfPqTopK(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, seeds, seedId, seedVec,
        m = m, numCodes = numCodes, k = k * refineFactor, nprobe = nprobe,
        refineCodebook = refineCodebook, lloydIters = lloydIters)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(corpusId.as("neighbor_id"),
      F.vec_quantize(corpusVec, 1000).as("cv")).filter(col("cv").isNotNull)
    val qv = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv")).filter(col("qv").isNotNull)
    val scored = cv.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** [[ivfPqRerankTopK]] with the exact-rerank fetch served from a
    * BLOOM-INDEXED PRIMARY LAKE (VERDICT r12 #5): the candidate pool's
    * neighbor ids drive [[DynamicPrune.readSemiFiltered]], so only the
    * lake files that can hold candidates are read for the raw-vector
    * re-score — the ADC stage is unchanged (training/encoding is
    * corpus-wide by nature), but the refine tail becomes
    * candidate-many point reads instead of a second full corpus scan.
    * Row-identical to [[ivfPqRerankTopK]] over the lake's rows
    * (RerankLakeSpec). */
  def ivfPqRerankTopKLake(spark: org.apache.spark.sql.SparkSession,
                          lakeRoot: String, lakeId: String, lakeVec: String,
                          queries: DataFrame, queryId: Column,
                          queryVec: Column,
                          seeds: DataFrame, seedId: Column, seedVec: Column,
                          m: Int, numCodes: Int, k: Int, nprobe: Int = 1,
                          refineFactor: Int = 4,
                          refineCodebook: Boolean = false,
                          lloydIters: Int = 1): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1 (got $refineFactor)")
    val corpus = graft.sources.ZLake.read(spark, lakeRoot)
    val cand = ivfPqTopK(corpus, col(lakeId), col(lakeVec),
        queries, queryId, queryVec, seeds, seedId, seedVec,
        m = m, numCodes = numCodes, k = k * refineFactor, nprobe = nprobe,
        refineCodebook = refineCodebook, lloydIters = lloydIters)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false) // drives pruning AND the join — compute once
    val cv = DynamicPrune.readSemiFiltered(spark, lakeRoot, lakeId,
        cand, col("neighbor_id"))
      .select(col(lakeId).as("neighbor_id"),
        F.vec_quantize(col(lakeVec), 1000).as("cv"))
      .filter(col("cv").isNotNull)
    val qv = queries.select(queryId.as("query_id"),
      F.vec_quantize(queryVec, 1000).as("qv")).filter(col("qv").isNotNull)
    val scored = cv.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", F.vec_cosine_q6(col("cv"), col("qv")))
    TopK.perGroup(scored, k, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rn"))
  }

  /** recall@k against exact [[bruteForceTopK]], averaged over the query
    * set: |approx ∩ exact| / k per query — for [[ivfPqTopK]]
    * (`refineFactor = None`) or [[ivfPqRerankTopK]] (`Some(f)`). The
    * determinism oracles (q99/q101/q133) pin the approximation's VALUES;
    * this pins its QUALITY — IvfPqSpec asserts floors and [[graft.Bench]]
    * reports both numbers every round, so a centroid/codebook regression
    * that stays deterministic still trips the gate. */
  def ivfPqRecallAtK(corpus: DataFrame, idCol: Column, vecCol: Column,
                     queries: DataFrame, seeds: DataFrame,
                     m: Int, numCodes: Int, k: Int,
                     nprobe: Int = 1,
                     refineFactor: Option[Int] = None): Double = {
    def topSets(df: DataFrame): Map[Long, Set[Long]] = df
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
    val exact = topSets(
      bruteForceTopK(corpus, idCol, vecCol, queries, idCol, vecCol, k))
    val approx = topSets(refineFactor match {
      case Some(f) => ivfPqRerankTopK(corpus, idCol, vecCol,
        queries, idCol, vecCol, seeds, idCol, vecCol,
        m = m, numCodes = numCodes, k = k, nprobe = nprobe, refineFactor = f)
      case None => ivfPqTopK(corpus, idCol, vecCol, queries, idCol, vecCol,
        seeds, idCol, vecCol, m = m, numCodes = numCodes, k = k,
        nprobe = nprobe)
    })
    val perQuery = exact.map { case (q, ex) =>
      (approx.getOrElse(q, Set.empty) intersect ex).size.toDouble / k
    }
    if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
  }
}
