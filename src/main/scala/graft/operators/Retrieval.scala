package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.{Kernels, Functions => F, TextFunctions => TF}

/** Lexical retrieval: BM25 scoring, a persisted partition-pruned inverted
  * index, and reciprocal-rank-fusion hybrid search (BM25 ∘ ANN).
  *
  * The missing retrieval family next to the embedding ANN lanes: every
  * RAG/data-curation stack pairs dense (vector) retrieval with sparse
  * (lexical) retrieval — BM25 (Robertson et al., TREC-3; the Lucene
  * `k1 = 1.2, b = 0.75` practical variant with the always-positive
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf) is the standard sparse side.
  *
  * Determinism (the repo-wide exact-replay contract): every per-term score
  * is rounded to integer MICROS (`floor(x·10⁶ + 0.5)`) and document scores
  * are integer sums of term micros — order-free, so Spark partitioning
  * cannot move a score and DuckDB replays the whole formula bit-for-bit.
  * The idf itself is the PURE-INTEGER fixed-point log (r13 —
  * [[Bm25Stats.idfMicros]]): no libm call exists anywhere in the lane.
  *
  * Scale shape:
  *  - [[bm25Scores]]: ONE tiny stats aggregate (corpus size + one df per
  *    query term, map-side combined to a single row) and ONE projection
  *    pass — zero shuffles; top-k callers get TakeOrdered, never a global
  *    sort.
  *  - [[writeBm25Index]]: postings `(term, doc_id, tf, dl)` hash-bucketed
  *    BY TERM into `bucket=` directories, so a query prunes the read to
  *    ≤ |query terms| buckets — query cost follows matching postings, not
  *    the corpus. df(term) is derived from the pruned postings themselves
  *    (a term's postings live entirely in its bucket), so the index needs
  *    no separate df table to stay consistent under [[appendBm25Index]].
  *  - [[hybridTopK]]: fuses the BM25 ranking with the ANN cosine ranking
  *    via reciprocal-rank fusion (Cormack et al. 2009) — rank points are
  *    EXACT integers (`round(10⁶/(60+rank))` in integer arithmetic), so
  *    fusion is replayable and engine-independent.
  */
object Retrieval {

  /** BM25 parameters — the Lucene defaults. */
  final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** Corpus statistics for a fixed query-term set. */
  final case class Bm25Stats(nDocs: Long, totalTokens: Long,
                             df: Map[String, Long]) {
    /** Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))` to 6-decimal
      * precision, via the PURE-INTEGER fixed-point log — the ratio
      * rewrites to integer arguments, `(2N+2)/(2df+1)`, so
      * idf-micros = lnm(2N+2) − lnm(2df+1)
      * ([[graft.functions.Kernels.lnFixMicros]]) and the SQL oracle
      * replays the identical recurrence itself: no libm on either side,
      * no engine-deposited literal table (the r11/r12 hash-red class). */
    def idfMicros(term: String): Long = {
      val d = df.getOrElse(term, 0L)
      Kernels.lnFixMicros(2 * nDocs + 2) - Kernels.lnFixMicros(2 * d + 1)
    }
    /** [[idfMicros]] / 10⁶ — one IEEE division of the same integer, so
      * the double is bit-identical in any engine. */
    def idf6(term: String): Double = idfMicros(term).toDouble / 1e6
  }

  /** ONE map-side-combined aggregate: corpus size, total token count, and
    * one `df` per query term (a sum of per-row containment flags). The
    * result is a single driver row — O(|terms|), never corpus-sized. */
  def bm25Stats(docs: DataFrame, text: Column,
                terms: Seq[String]): Bm25Stats = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val ts = TF.tokens(text)
    val aggs =
      count(lit(1)).as("n") +:
      coalesce(sum(size(ts)), lit(0L)).cast("long").as("tt") +:
      terms.zipWithIndex.map { case (t, i) =>
        coalesce(sum(when(array_contains(ts, lit(t)), 1L).otherwise(0L)),
          lit(0L)).as(s"df_$i")
      }
    val row = docs.agg(aggs.head, aggs.tail: _*).head()
    Bm25Stats(row.getLong(0), row.getLong(1),
      terms.zipWithIndex.map { case (t, i) => t -> row.getLong(i + 2) }.toMap)
  }

  /** Per-term score in integer micros, given tokenized doc `ts` and its
    * length `dl`. Shapes the double expression EXACTLY as the DuckDB
    * oracle spells it (same association order), then rounds:
    * `floor(idf6 · tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/totalTokens)) · 10⁶ + 0.5)`. */
  private def termMicros(ts: Column, dl: Column, term: String,
                         stats: Bm25Stats, p: Bm25Params): Column = {
    val tf = size(filter(ts, x => x === lit(term))).cast("double")
    val norm = lit(1.0 - p.b) +
      lit(p.b) * dl.cast("double") * lit(stats.nDocs.toDouble) /
        lit(stats.totalTokens.toDouble)
    val frac = tf * lit(p.k1 + 1.0) / (tf + lit(p.k1) * norm)
    when(tf > 0,
      floor(lit(stats.idf6(term)) * frac * lit(1e6) + lit(0.5)).cast("long"))
      .otherwise(lit(0L))
  }

  /** BM25 scores for every document matching ≥1 query term: one stats
    * aggregate + one zero-shuffle projection. Output
    * `(doc_id, score_micros)`, unordered — compose with TakeOrdered for
    * top-k ([[bm25TopK]]). */
  def bm25Scores(docs: DataFrame, id: Column, text: Column,
                 terms: Seq[String],
                 params: Bm25Params = Bm25Params()): DataFrame = {
    val stats = bm25Stats(docs, text, terms)
    docs.select(id.cast("long").as("doc_id"), TF.tokens(text).as("ts"))
      .select(col("doc_id"), col("ts"),
        size(col("ts")).cast("long").as("dl"))
      .select(col("doc_id"),
        terms.map(t => termMicros(col("ts"), col("dl"), t, stats, params))
          .reduce(_ + _).as("score_micros"))
      .filter(col("score_micros") > 0)
  }

  /** Top-k BM25: score desc, doc_id asc — a deterministic total order the
    * planner executes as TakeOrderedAndProject (per-partition top-k + one
    * driver merge, never a global sort). */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               terms: Seq[String], k: Int,
               params: Bm25Params = Bm25Params()): DataFrame =
    bm25Scores(docs, id, text, terms, params)
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)

  // ---- second-stage reranking hook ------------------------------------

  /** The default pair scorer for [[crossEncoderRerank]]: a DETERMINISTIC
    * term-interaction stand-in for a learned cross-encoder. A real
    * cross-encoder is an external model (the
    * [[graft.multimodal.Multimodal]] decode-stub convention: the model
    * is not a Spark concern and is not in this environment), so the slot
    * ships with a replayable stub — per query term, a pinned
    * hash-derived weight `hash60("ce:" ‖ term) mod 1000` times the
    * term's frequency in the document, summed as exact integers. The
    * plumbing the stub exercises (candidate pooling, text point-reads,
    * per-pair scoring, re-ranking) is the real serving path; production
    * swaps in a scorer backed by a model UDF with the same signature. */
  def interactionStubScorer(text: Column, terms: Seq[String]): Column =
    F.bind(TF.tokens(text)) { toks =>
      terms.map { t =>
        val w = Kernels.hash60(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"ce:$t")) % 1000L
        lit(w) * size(filter(toks, x => x === lit(t))).cast("long")
      }.reduce(_ + _)
    }

  /** CROSS-ENCODER-STYLE RERANK HOOK (the two-stage serving shape of
    * every production retrieval stack — Nogueira & Cho 2019's
    * retrieve-then-rerank): a first-stage candidate pool (BM25 / ANN /
    * hybrid — anything producing `(doc, stage1 score)`) is re-scored
    * pairwise against the query by `scorer` and re-ranked. The expensive
    * model runs on CANDIDATES ONLY — the pool is broadcast and the
    * corpus streamed once for the text point-read (against a bloomed
    * documents lake, the same read [[graft.operators.Similarity]]'s
    * lake rerank uses becomes a file-pruned point lookup), so the
    * stage-2 cost is pool-sized at any corpus size.
    * Output: `(doc_id, ce_micros, stage1_micros, rn)` — `rn` over
    * (ce desc, doc asc), the deterministic total order. */
  def crossEncoderRerank(docs: DataFrame, id: Column, text: Column,
                         candidates: DataFrame, candDoc: Column,
                         candScore: Column, terms: Seq[String], k: Int,
                         scorer: (Column, Seq[String]) => Column =
                           interactionStubScorer): DataFrame = {
    val cand = candidates.select(candDoc.cast("long").as("doc_id"),
      candScore.cast("long").as("stage1_micros"))
    val scored = docs
      .select(id.cast("long").as("doc_id"), text.as("_ce_text"))
      .join(broadcast(cand), Seq("doc_id"))
      .withColumn("ce_micros", scorer(col("_ce_text"), terms).cast("long"))
      .drop("_ce_text")
    scored
      .withColumn("rn", row_number().over(Window
        .orderBy(col("ce_micros").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("ce_micros"), col("stage1_micros"),
        col("rn"))
      .orderBy(col("rn"))
  }

  // ---- persisted inverted index --------------------------------------

  private val StatsFile = "_bm25_stats.json"

  /** The postings GENERATION CHAIN, newest first ([[IndexLayers]]): the
    * active dir the `_bm25_postings` pointer names — or the index root
    * itself (the original layout) when no pointer exists — plus any base
    * generations a selective compaction layered over (base "" = the root
    * layout). Versioned dirs are `_`-prefixed, invisible to a root-layout
    * reader while being built ([[IndexOcc]]). */
  private def postingsLayers(spark: SparkSession,
                             path: String): Seq[IndexLayers.Layer] =
    IndexOcc.chain(spark, path, IndexOcc.Bm25Layout)

  /** Every probe's view of the postings: the shadow-filtered union of
    * the generation chain — a plain partitioned read (identical bucket
    * pruning) when the chain is one layer. */
  private def readPostings(spark: SparkSession, path: String): DataFrame =
    IndexLayers.readChain(spark, postingsLayers(spark, path), "bucket")

  /** SELECTIVELY compact the postings (VERDICT r12 #4): every
    * [[appendBm25Index]] batch adds small files to each touched bucket
    * directory — the small-files tax every probe pays grows with append
    * count — but rewriting ALL postings per maintenance cycle is a
    * full-index rewrite to fix a handful of hot buckets. Compaction
    * rewrites ONLY buckets whose visible file count exceeds
    * `targetFilesPerBucket` into a versioned dir that LAYERS over the
    * current generation ([[IndexLayers]]); untouched buckets' files are
    * never rewritten or copied. The chain flattens (full rewrite, no
    * manifest) at [[IndexLayers.MaxLayers]]. Publication is one atomic
    * pointer overwrite after an optimistic read-set validation
    * ([[IndexOcc.compact]]): readers see the old postings or the new,
    * never a mix; a racing append makes it restage; a crash leaves the
    * old index live. Retired generations are removed by
    * [[vacuumBm25Index]] once in-flight readers drain.
    * Returns (visibleFilesBefore, visibleFilesAfter). */
  def compactBm25Index(spark: SparkSession, path: String,
                       targetFilesPerBucket: Int = 1): (Int, Int) = {
    require(targetFilesPerBucket >= 1,
      s"targetFilesPerBucket must be >= 1, got $targetFilesPerBucket")
    IndexOcc.compact(spark, path, IndexOcc.Bm25Layout, targetFilesPerBucket,
      readIngestFence(spark, path).getOrElse(-1L))
  }

  /** Delete retired postings (old `_postings-v*` dirs, and the original
    * root-layout `bucket=*` dirs once no live or pinned layer reads them)
    * — run after in-flight readers of the pre-compaction index have
    * drained. Versions pinned by an [[IndexSnapshots]] generation
    * snapshot are KEPT (deleting them would make the pin unrestorable). */
  def vacuumBm25Index(spark: SparkSession, path: String): Int =
    IndexOcc.vacuum(spark, path, IndexOcc.Bm25Layout)

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(F.hash60(term), lit(nBuckets.toLong)).cast("int")

  /** Build the postings lake: `(term, doc_id, tf, dl)` partitioned by
    * `bucket = hash60(term) mod nBuckets`, plus a `(nDocs, totalTokens)`
    * sidecar. ONE exchange — the (term, doc) count is map-side combined
    * (each doc contributes each term once, pre-counted in a projection),
    * then routed to its term bucket by the partitioned write. */
  def writeBm25Index(docs: DataFrame, id: Column, text: Column,
                     path: String, nBuckets: Int = 64): Unit =
    writeBm25IndexFenced(docs, id, text, path, nBuckets, None)

  /** [[writeBm25Index]] whose stats sidecar carries an ingest fence —
    * the BOOTSTRAP path of [[ingestBatchBm25]]: the stats write (which
    * is also what makes [[indexExists]] true) and the fence commit in
    * ONE atomic overwrite, so a crash anywhere inside the bootstrap
    * leaves `indexExists = false` and the replay simply rebuilds
    * (mode overwrite — idempotent), never appends batch 0 twice. */
  private def writeBm25IndexFenced(docs: DataFrame, id: Column,
                                   text: Column, path: String,
                                   nBuckets: Int,
                                   fence: Option[Long]): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = docs.sparkSession
    val postings = postingsOf(docs, id, text)
    postings
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    val row = docs.agg(count(lit(1)),
      coalesce(sum(size(TF.tokens(text))), lit(0L)).cast("long")).head()
    writeStats(spark, path, row.getLong(0), row.getLong(1), nBuckets, fence)
    // a rebuild resets any compaction pointer — readers must resolve to
    // the freshly written root layout, not a retired version
    val ptr = new org.apache.hadoop.fs.Path(path, IndexOcc.Bm25Layout.ptrName)
    IndexOcc.fsOf(spark, ptr).delete(ptr, false)
    ()
  }

  /** Postings via posexplode + map-side-combined count: the (term, doc)
    * exchange carries ONE row per distinct (term, doc) after partial
    * aggregation — the standard inverted-index build shape. `dl` is a
    * functional dependency of `doc_id` and rides in the grouping key.
    * Each posting also carries the term's sorted POSITIONS (0-based token
    * offsets — what Lucene stores by default): the payload phrase queries
    * ([[searchPhraseIndex]]) need, a per-posting `array<int>` whose total
    * size across the index is exactly one entry per corpus token. */
  private def postingsOf(docs: DataFrame, id: Column,
                         text: Column): DataFrame =
    docs.select(id.cast("long").as("doc_id"), TF.tokens(text).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        posexplode(col("ts")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"))

  /** `fence` is the streaming-ingest commit point ([[ingestBatchBm25]]):
    * stats and fence publish in ONE atomic overwrite, so a batch's
    * visibility and its stats delta commit together. Plain appends
    * preserve whatever fence is committed. */
  private def writeStats(spark: SparkSession, path: String, nDocs: Long,
                         totalTokens: Long, nBuckets: Int,
                         fence: Option[Long] = None): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, StatsFile)
    val fencePart = fence.map(b => s""","ingest_batch":$b""").getOrElse("")
    graft.sinks.LakeDelete.publishSidecar(IndexOcc.fsOf(spark, p), p,
      s"""{"n_docs":$nDocs,"total_tokens":$totalTokens,""" +
        s""""n_buckets":$nBuckets$fencePart}""")
  }

  /** The stats sidecar's JSON, None when no index exists at `path`. */
  private def statsNode(spark: SparkSession, path: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = new org.apache.hadoop.fs.Path(path, StatsFile)
    graft.sinks.LakeDelete.readSidecar(IndexOcc.fsOf(spark, p), p).map(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))
  }

  /** The committed streaming-ingest fence, or None if never ingested. */
  private[graft] def readIngestFence(spark: SparkSession,
                                     path: String): Option[Long] =
    statsNode(spark, path).flatMap(n =>
      Option(n.get("ingest_batch")).map(_.asLong))

  /** The stats sidecar, parsed once: its counts and the ingest fence. */
  private final case class Stats(nDocs: Long, totalTokens: Long,
                                 nBuckets: Int, fence: Option[Long])

  private def readStats(spark: SparkSession, path: String): Stats = {
    val node = statsNode(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no BM25 index at $path " +
        s"($StatsFile missing)"))
    Stats(node.get("n_docs").asLong, node.get("total_tokens").asLong,
      node.get("n_buckets").asInt,
      Option(node.get("ingest_batch")).map(_.asLong))
  }

  /** Whether a postings index (its stats sidecar) exists at `path` —
    * the first-batch test a streaming `foreachBatch` maintainer needs to
    * pick between [[writeBm25Index]] and [[appendBm25Index]]. */
  def indexExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, StatsFile)
    IndexOcc.fsOf(spark, p).exists(p)
  }

  /** Stage a batch's postings into `stage` under the index's bucket
    * count; returns the batch's (docs, tokens) for the stats advance. */
  private def stagePostings(docs: DataFrame, id: Column, text: Column,
                            nBuckets: Int,
                            stage: org.apache.hadoop.fs.Path): (Long, Long) = {
    postingsOf(docs, id, text)
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stage.toString)
    val row = docs.agg(count(lit(1)),
      coalesce(sum(size(TF.tokens(text))), lit(0L)).cast("long")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Advance the stats sidecar `cur` — read under the writer lock, so a
    * concurrent append's advance survives — by a batch's (docs, tokens). */
  private def advanceStats(spark: SparkSession, path: String, cur: Stats,
                           batch: (Long, Long), fence: Option[Long]): Unit =
    writeStats(spark, path, cur.nDocs + batch._1, cur.totalTokens + batch._2,
      cur.nBuckets, fence)

  /** Append a NEW batch of documents to the index: postings land in their
    * term buckets (same hash, same layout), the stats sidecar advances by
    * one atomic overwrite. Doc ids must be new — a re-appended doc would
    * double its tf rows. df stays consistent for free: it is derived from
    * the postings at query time, never stored. The postings stage
    * outside the writer lock and adopt into the active dir re-resolved
    * under it ([[IndexOcc.append]]); the stats advance runs under it. */
  def appendBm25Index(docs: DataFrame, id: Column, text: Column,
                      path: String): Unit = {
    val spark = docs.sparkSession
    val nBuckets = readStats(spark, path).nBuckets
    IndexOcc.append(spark, path, IndexOcc.Bm25Layout)(
      stagePostings(docs, id, text, nBuckets, _)) { batch =>
      val cur = readStats(spark, path) // keeps the committed fence
      advanceStats(spark, path, cur, batch, cur.fence)
    }
  }

  /** FENCED, EXACTLY-ONCE batch ingest — the `foreachBatch` body of a
    * streaming index maintainer ([[streamIngestBm25]]). Semantics:
    *
    *  - batch 0 BOOTSTRAPS the index (full build — idempotent, mode
    *    overwrite) and commits the fence with the stats;
    *  - otherwise [[IndexOcc.ingest]], the fence riding inside the stats
    *    sidecar: a batch at-or-below it returns false and does NOTHING
    *    (the Structured Streaming replay path after a restart); a new
    *    batch's uncommitted residue is purged, it adopts with
    *    `ingest<batchId>-` names, and stats + fence publish in ONE
    *    atomic overwrite — the commit point. Probes may see an
    *    uncommitted fraction only between a crash and its replay, and
    *    compaction purges uncommitted files before rewriting, so they
    *    can never be baked into a generation. */
  def ingestBatchBm25(batch: DataFrame, id: Column, text: Column,
                      path: String, batchId: Long,
                      nBuckets: Int = 64): Boolean = {
    val spark = batch.sparkSession
    if (!indexExists(spark, path)) {
      // bootstrap: postings first, then stats+fence in ONE atomic write
      // (the stats write is also what flips indexExists) — a crash
      // anywhere in here replays as a clean rebuild, never as an append
      writeBm25IndexFenced(batch, id, text, path, nBuckets, Some(batchId))
      return true
    }
    IndexOcc.ingest(spark, path, IndexOcc.Bm25Layout, batchId)(
      readStats(spark, path))(_.fence)((s, stage) =>
      stagePostings(batch, id, text, s.nBuckets, stage))(
      advanceStats(spark, path, _, _, Some(batchId)))
  }

  /** Maintain the index from a STREAM: checkpointed `foreachBatch` over
    * [[ingestBatchBm25]] — restarts replay at-least-once, the fence makes
    * the index exactly-once. */
  def streamIngestBm25(stream: DataFrame, id: Column, text: Column,
                       path: String, checkpoint: String,
                       nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        ingestBatchBm25(b, id, text, path, bid, nBuckets); ()
      }
      .start()

  /** Query the persisted index: the scan prunes to the ≤ |terms| buckets
    * the query hashes into (partition pruning on `bucket`), df per term
    * comes from the pruned postings themselves, and the only shuffle is
    * the per-doc sum over MATCHING postings — cost follows the match set,
    * not the corpus. Returns the top-k `(doc_id, score_micros)`. */
  def searchBm25Index(spark: SparkSession, path: String, terms: Seq[String],
                      k: Int,
                      params: Bm25Params = Bm25Params()): DataFrame =
    indexScores(spark, path, terms, params)
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)

  /** The bucket-pruned scored lane [[searchBm25Index]] orders: every
    * matching document's `(doc_id, score_micros)` with micros > 0,
    * unordered. [[moreLikeThis]] filters the source document out of this
    * BEFORE its top-k cut (an exclusion after `limit` would lose a row). */
  private def indexScores(spark: SparkSession, path: String,
                          terms: Seq[String],
                          params: Bm25Params): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val Stats(nDocs, totalTokens, nBuckets, _) = readStats(spark, path)
    val buckets = terms.map(t =>
      // the same 60-bit md5-prefix hash the write side's bucketOf uses
      (graft.functions.Kernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        % nBuckets.toLong).toInt)
    val hits = readPostings(spark, path)
      .filter(col("bucket").isin(buckets.distinct.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
    val dfByTerm = hits.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"))
    val stats = Bm25Stats(nDocs, totalTokens,
      dfByTerm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val scored = hits.select(col("doc_id"), col("term"),
      col("tf").cast("double").as("tf"), col("dl"))
    val perTerm = terms.map { t =>
      val norm = lit(1.0 - params.b) +
        lit(params.b) * col("dl").cast("double") *
          lit(stats.nDocs.toDouble) / lit(stats.totalTokens.toDouble)
      val frac = col("tf") * lit(params.k1 + 1.0) /
        (col("tf") + lit(params.k1) * norm)
      when(col("term") === lit(t),
        floor(lit(stats.idf6(t)) * frac * lit(1e6) + lit(0.5)).cast("long"))
    }.reduce((a, b) => coalesce(a, b))
    scored.select(col("doc_id"), perTerm.as("m"))
      .groupBy("doc_id").agg(sum(col("m")).as("score_micros"))
      .filter(col("score_micros") > 0)
  }

  // ---- snippets (Lucene Highlighter) ----------------------------------

  /** Search-result SNIPPETS (Lucene Highlighter's fragment selection,
    * made deterministic): for every document containing ≥1 query term,
    * the best `w`-token window — maximizing (distinct query terms, then
    * total hits), ties to the earliest start — plus the window's text.
    * One codegen'd sliding-window pass per row
    * ([[graft.functions.Kernels.bestWindow]]); zero shuffles. Output
    * `(doc_id, win_start, distinct_hits, total_hits, snippet)`. */
  def snippets(docs: DataFrame, id: Column, text: Column,
               terms: Seq[String], w: Int): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    docs.select(id.cast("long").as("doc_id"), TF.tokens(text).as("ts"))
      .withColumn("bw", graft.functions.KernelExprs.best_window(
        col("ts"), typedlit(terms), w))
      .select(col("doc_id"), col("ts"),
        col("bw").getItem(0).as("win_start"),
        col("bw").getItem(1).as("distinct_hits"),
        col("bw").getItem(2).as("total_hits"))
      .filter(col("distinct_hits") > 0)
      .select(col("doc_id"), col("win_start"), col("distinct_hits"),
        col("total_hits"),
        array_join(slice(col("ts"), (col("win_start") + 1).cast("int"),
          lit(w)), " ").as("snippet"))
  }

  /** The serving composition: top-k from the bucket-pruned index probe,
    * then snippets computed for the k RESULT rows only (the text join
    * touches k documents of the primary store, never the corpus). Output
    * `(doc_id, score_micros, win_start, snippet)`, score desc / id asc. */
  def searchWithSnippets(spark: SparkSession, path: String,
                         docs: DataFrame, id: Column, text: Column,
                         terms: Seq[String], k: Int, w: Int,
                         params: Bm25Params = Bm25Params()): DataFrame = {
    val top = searchBm25Index(spark, path, terms, k, params)
    val d = docs.select(id.cast("long").as("doc_id"),
      TF.tokens(text).as("ts"))
    top.join(d, Seq("doc_id"))
      .withColumn("bw", graft.functions.KernelExprs.best_window(
        col("ts"), typedlit(terms), w))
      .select(col("doc_id"), col("score_micros"),
        col("bw").getItem(0).as("win_start"),
        array_join(slice(col("ts"), (col("bw").getItem(0) + 1).cast("int"),
          lit(w)), " ").as("snippet"))
      .orderBy(col("score_micros").desc, col("doc_id"))
  }

  // ---- more-like-this (Lucene MoreLikeThis) ---------------------------

  /** One selected MLT query term: source-document frequency `tf`, corpus
    * document frequency `df` (from the index postings), the q6 idf as
    * integer micros, and the selection score `selMicros = tf · idfMicros`
    * — exact integer, so selection order replays in any engine. */
  final case class MltTerm(term: String, tf: Long, df: Long,
                           idfMicros: Long, selMicros: Long)

  /** The "interesting terms" of Lucene's `MoreLikeThis`: the source
    * document's terms ranked by tf·idf, capped at `maxQueryTerms`.
    *
    * Deviations from classic MLT, both deliberate: the idf is the SAME
    * q6-rounded Lucene-BM25 idf the rest of the repo uses (one idf
    * contract, not MLT's `log(N/df)`), and the selection score is the
    * exact integer `tf · floor(idf·10⁶ + 0.5)` so ranking ties break
    * identically everywhere (micros desc, term asc).
    *
    * Scale shape: the source text tokenizes in one single-row local job
    * (the SAME [[TF.tokens]] kernel the index build used — no second
    * tokenizer contract); df for the candidate terms comes from ONE
    * bucket-pruned postings probe reading ≤ |candidate| buckets. Cost
    * follows the source document's vocabulary, never the corpus. */
  def mltSelectTerms(spark: SparkSession, path: String, docText: String,
                     maxQueryTerms: Int, minTermFreq: Int = 2,
                     minDocFreq: Int = 1): Seq[MltTerm] = {
    require(maxQueryTerms >= 1, s"maxQueryTerms must be >= 1 (got $maxQueryTerms)")
    mltCandidateTerms(spark, path, docText, minTermFreq, minDocFreq)
      .sortBy(m => (-m.selMicros, m.term)).take(maxQueryTerms)
  }

  /** Every candidate MLT term (tf/df gates applied, NO top cut), term
    * order — the full set [[mltSelectTerms]] ranks. Exposed to the gate
    * so its oracle can deposit the (df → idf-micros) pairs for ALL
    * candidates and replay the selection itself. */
  private[graft] def mltCandidateTerms(spark: SparkSession, path: String,
                                       docText: String, minTermFreq: Int,
                                       minDocFreq: Int): Seq[MltTerm] = {
    require(minTermFreq >= 1, s"minTermFreq must be >= 1 (got $minTermFreq)")
    require(minDocFreq >= 1, s"minDocFreq must be >= 1 (got $minDocFreq)")
    val Stats(nDocs, _, nBuckets, _) = readStats(spark, path)
    val ts = spark.range(1)
      .select(TF.tokens(lit(docText)).as("ts")).head().getSeq[String](0)
    val tf: Map[String, Long] =
      ts.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val cands = tf.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    if (cands.isEmpty) return Seq.empty
    val buckets = cands.map(t =>
      (graft.functions.Kernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        % nBuckets.toLong).toInt)
    val dfByTerm = readPostings(spark, path)
      .filter(col("bucket").isin(buckets.distinct.map(Integer.valueOf): _*) &&
        col("term").isin(cands: _*))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cands.flatMap { t =>
      dfByTerm.get(t).filter(_ >= minDocFreq).map { d =>
        // the integer idf-micros of Bm25Stats.idfMicros — kept as the
        // integer so selMicros is an exact product
        val idfMicros = Bm25Stats(nDocs, 0L, Map(t -> d)).idfMicros(t)
        MltTerm(t, tf(t), d, idfMicros, tf(t) * idfMicros)
      }
    }
  }

  /** [[mltSelectTerms]] as a DataFrame lane (term, tf, df, sel_micros) in
    * selection order — the q199 gate surface. The result is
    * query-term-sized (≤ maxQueryTerms rows) by construction. */
  def mltTerms(spark: SparkSession, path: String, docText: String,
               maxQueryTerms: Int, minTermFreq: Int = 2,
               minDocFreq: Int = 1): DataFrame = {
    import spark.implicits._
    mltSelectTerms(spark, path, docText, maxQueryTerms, minTermFreq,
        minDocFreq)
      .map(m => (m.term, m.tf, m.df, m.selMicros))
      .toDF("term", "tf", "df", "sel_micros")
  }

  /** Lucene `MoreLikeThis` over the persisted index: select the source
    * document's top tf·idf terms ([[mltSelectTerms]]) and run them as a
    * BM25 query through the bucket-pruned probe, excluding the source
    * document itself (the exclusion lands BEFORE the top-k cut). The
    * whole query touches ≤ |candidate terms| + |selected terms| bucket
    * directories — never the corpus. Output `(doc_id, score_micros)`,
    * score desc / doc_id asc. */
  def moreLikeThis(spark: SparkSession, path: String, docText: String,
                   k: Int, excludeDocId: Option[Long] = None,
                   maxQueryTerms: Int = 10, minTermFreq: Int = 2,
                   minDocFreq: Int = 1,
                   params: Bm25Params = Bm25Params()): DataFrame = {
    val sel = mltSelectTerms(spark, path, docText, maxQueryTerms,
      minTermFreq, minDocFreq)
    require(sel.nonEmpty,
      s"no MLT query terms survive tf >= $minTermFreq && df >= $minDocFreq")
    indexScores(spark, path, sel.map(_.term), params)
      .filter(excludeDocId.map(col("doc_id") =!= _).getOrElse(lit(true)))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** PHRASE query over the positional index (Lucene's `PhraseQuery`,
    * slop 0): documents where the exact token sequence `phrase` occurs,
    * scored like a single BM25 term whose `tf` is the PHRASE frequency
    * and whose `df` is the number of phrase-matching documents — the
    * classic phrase-scoring recipe.
    *
    * Scale shape: the scan prunes to the ≤ |distinct terms| buckets the
    * phrase hashes into; candidate docs pivot their per-term position
    * arrays into one map (one shuffle over MATCHING postings only); the
    * adjacency walk — `p ∈ positions(t₀)` with `p+i ∈ positions(tᵢ)` for
    * every later term — is a codegen'd higher-order-function filter, no
    * join. The phrase-match set is `localCheckpoint`ed (it is
    * result-sized) so the df aggregate and the final scoring read it
    * without re-scanning the index.
    *
    * Determinism: positions are exact integers, the adjacency count is
    * integer, and scoring reuses the q6-idf + integer-micros contract —
    * the whole query replays in the oracle from the raw corpus. Output
    * `(doc_id, n_matches, score_micros)`, score desc / doc_id asc. */
  def searchPhraseIndex(spark: SparkSession, path: String,
                        phrase: Seq[String], k: Int,
                        params: Bm25Params = Bm25Params()): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val Stats(nDocs, totalTokens, nBuckets, _) = readStats(spark, path)
    val distinctTerms = phrase.distinct
    val buckets = distinctTerms.map(t =>
      (graft.functions.Kernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        % nBuckets.toLong).toInt)
    val hits = readPostings(spark, path)
      .filter(col("bucket").isin(buckets.distinct.map(Integer.valueOf): _*) &&
        col("term").isin(distinctTerms: _*))
    // pivot: one row per candidate doc with term -> positions (keys are
    // unique: the index holds one posting per (term, doc))
    val byDoc = hits.groupBy("doc_id")
      .agg(max(col("dl")).as("dl"),
        map_from_entries(collect_list(struct(col("term"), col("positions"))))
          .as("pm"))
    val starts = element_at(col("pm"), lit(phrase.head))
    val nCol =
      if (phrase.length == 1) coalesce(size(starts), lit(0))
      else coalesce(size(filter(starts, p =>
        phrase.tail.zipWithIndex.map { case (t, i) =>
          array_contains(element_at(col("pm"), lit(t)), p + lit(i + 1))
        }.reduce(_ && _))), lit(0))
    val matched = byDoc
      .select(col("doc_id"), col("dl"), nCol.cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .localCheckpoint(true) // phrase-match-set-sized; read twice below
    val dfPhrase = matched.agg(count(lit(1))).head().getLong(0)
    if (dfPhrase == 0L)
      return matched.select(col("doc_id"), col("n_matches"),
        lit(0L).as("score_micros")) // empty, right schema
    val idf6 = Bm25Stats(nDocs, totalTokens, Map("" -> dfPhrase)).idf6("")
    val tf = col("n_matches").cast("double")
    val norm = lit(1.0 - params.b) +
      lit(params.b) * col("dl").cast("double") * lit(nDocs.toDouble) /
        lit(totalTokens.toDouble)
    val frac = tf * lit(params.k1 + 1.0) / (tf + lit(params.k1) * norm)
    matched.select(col("doc_id"), col("n_matches"),
      floor(lit(idf6) * frac * lit(1e6) + lit(0.5)).cast("long")
        .as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** BOOLEAN query over the index (Lucene's `BooleanQuery`): documents
    * containing ALL `must` terms and NONE of the `mustNot` terms, scored
    * by the BM25 sum over the `must ++ should` terms they contain —
    * MUST gates and scores, SHOULD only scores, MUST_NOT only gates.
    *
    * Scale shape: one bucket-pruned scan over the involved terms'
    * postings, one per-doc aggregate that computes gate flags and the
    * score in the same pass (postings are unique per (term, doc), so
    * "all must terms present" is an integer sum of indicators — no
    * distinct, no second pass); `mustNot` rides the same aggregate as a
    * max-indicator instead of an anti-join. df per scoring term comes
    * from the pruned postings (a term's postings live entirely in its
    * bucket), exactly like [[searchBm25Index]]. Output
    * `(doc_id, score_micros)`, score desc / doc_id asc. */
  def searchBooleanIndex(spark: SparkSession, path: String,
                         must: Seq[String], should: Seq[String] = Nil,
                         mustNot: Seq[String] = Nil, k: Int = 10,
                         params: Bm25Params = Bm25Params()): DataFrame = {
    require(must.nonEmpty || should.nonEmpty,
      "boolean query needs at least one must or should term")
    val mustD = must.distinct
    val negD = mustNot.distinct
    val scoring = (must ++ should).distinct
    require(scoring.intersect(negD).isEmpty,
      s"terms cannot be both scored and excluded: " +
        s"${scoring.intersect(negD)}")
    val Stats(nDocs, totalTokens, nBuckets, _) = readStats(spark, path)
    val involved = (scoring ++ negD).distinct
    val buckets = involved.map(t =>
      (graft.functions.Kernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
        % nBuckets.toLong).toInt)
    val hits = readPostings(spark, path)
      .filter(col("bucket").isin(buckets.distinct.map(Integer.valueOf): _*) &&
        col("term").isin(involved: _*))
    val dfByTerm = hits.filter(col("term").isin(scoring: _*))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val stats = Bm25Stats(nDocs, totalTokens,
      dfByTerm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val perTerm = scoring.map { t =>
      val norm = lit(1.0 - params.b) +
        lit(params.b) * col("dl").cast("double") *
          lit(stats.nDocs.toDouble) / lit(stats.totalTokens.toDouble)
      val frac = col("tf").cast("double") * lit(params.k1 + 1.0) /
        (col("tf").cast("double") + lit(params.k1) * norm)
      when(col("term") === lit(t),
        floor(lit(stats.idf6(t)) * frac * lit(1e6) + lit(0.5)).cast("long"))
    }.reduceOption((a, b) => coalesce(a, b))
      .getOrElse(lit(null).cast("long"))
    hits.select(col("doc_id"), col("term"),
        coalesce(perTerm, lit(0L)).as("m"),
        (if (mustD.isEmpty) lit(0L)
         else when(col("term").isin(mustD: _*), 1L).otherwise(0L))
          .as("is_must"),
        (if (negD.isEmpty) lit(0L)
         else when(col("term").isin(negD: _*), 1L).otherwise(0L))
          .as("is_neg"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("score_micros"),
        sum(col("is_must")).as("must_hits"),
        max(col("is_neg")).as("neg"))
      .filter(col("must_hits") === lit(mustD.size.toLong) &&
        col("neg") === 0L && col("score_micros") > 0)
      .select(col("doc_id"), col("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  // ---- hybrid search (RRF) --------------------------------------------

  /** Reciprocal-rank-fusion points for 1-based `rank`: EXACT integer
    * `round(10⁶ / (c + rank))` via `(2·10⁶ + (c+rank)) div (2·(c+rank))`
    * — round-half-up in pure integer arithmetic, replayable anywhere. */
  private def rrfPoints(rank: Column, c: Int): Column = {
    val num = lit(2L * 1000000L) + (lit(c.toLong) + rank)
    val den = lit(2L) * (lit(c.toLong) + rank)
    // exact integer division: (num - num mod den) is a multiple of den ≤
    // ~2·10⁶, so the double quotient is exact
    ((num - pmod(num, den)) / den).cast("long")
  }

  /** Hybrid top-k: fuse the BM25 lexical ranking with the dense cosine
    * ranking by reciprocal-rank fusion (Cormack et al. 2009, the standard
    * hybrid-search combiner; `c = 60`). Each side contributes its top
    * `poolK` candidates ranked by its own deterministic total order; a
    * document's fused score is the integer sum of its rank points. The
    * two candidate pools are `poolK`-sized — the fusion join is
    * broadcast-trivial at any corpus size. Output
    * `(doc_id, rrf_micros, bm25_rank, ann_rank)`. */
  def hybridTopK(docs: DataFrame, id: Column, text: Column,
                 emb: DataFrame, embId: Column, embVec: Column,
                 terms: Seq[String], queryVec: Seq[Double],
                 k: Int, poolK: Int = 50, c: Int = 60,
                 params: Bm25Params = Bm25Params()): DataFrame = {
    require(poolK >= k, s"poolK ($poolK) must be >= k ($k)")
    val lexPool = bm25TopK(docs, id, text, terms, poolK, params)
      .select(col("doc_id"), col("score_micros"))
    val lex = lexPool.select(col("doc_id"),
      row_number().over(Window.orderBy(col("score_micros").desc,
        col("doc_id"))).cast("long").as("bm25_rank"))
    val qv = F.vec_quantize(
      lit(queryVec.map(_.toFloat).toArray).cast("array<float>"), 1000)
    val densePool = emb.select(embId.cast("long").as("doc_id"),
        F.vec_cosine_q6(F.vec_quantize(embVec, 1000), qv).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(poolK)
    val dense = densePool.select(col("doc_id"),
      row_number().over(Window.orderBy(col("cos").desc, col("doc_id")))
        .cast("long").as("ann_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(rrfPoints(col("bm25_rank"), c), lit(0L)) +
          coalesce(rrfPoints(col("ann_rank"), c), lit(0L)))
          .as("rrf_micros"),
        col("bm25_rank"), col("ann_rank"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** LATE-INTERACTION HYBRID (r15): fuse the BM25 lexical ranking with a
    * MULTI-VECTOR MaxSim ranking ([[Similarity.maxSimTopK]] — ColBERT
    * late interaction) by the same exact-integer RRF as [[hybridTopK]].
    * The single-vector dense side of [[hybridTopK]] compresses a
    * document to one point; the MaxSim side keeps term-level semantic
    * matching, which is the hybrid modern retrieval stacks actually run
    * (BM25 ∘ late interaction, fused by RRF — Cormack 2009's combiner
    * over Khattab & Zaharia 2020's scorer).
    *
    * `queryToks` is ONE query's bag of token vectors (`queryDoc` a
    * constant id; a corpus document with the same id is excluded from
    * the MaxSim pool, [[Similarity.maxSimTopK]]'s self-doc rule). Both
    * pools are `poolK`-sized, so the fusion join is broadcast-trivial at
    * any corpus size. Output
    * `(doc_id, rrf_micros, bm25_rank, maxsim_rank)`. */
  def hybridMaxSimTopK(docs: DataFrame, id: Column, text: Column,
                       corpusToks: DataFrame, corpusDoc: Column,
                       corpusVec: Column,
                       queryToks: DataFrame, queryDoc: Column,
                       queryTok: Column, queryVec: Column,
                       terms: Seq[String], k: Int, poolK: Int = 50,
                       c: Int = 60,
                       params: Bm25Params = Bm25Params()): DataFrame = {
    require(poolK >= k, s"poolK ($poolK) must be >= k ($k)")
    val lex = bm25TopK(docs, id, text, terms, poolK, params)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score_micros").desc,
          col("doc_id"))).cast("long").as("bm25_rank"))
    val ms = Similarity.maxSimTopK(corpusToks, corpusDoc, corpusVec,
        queryToks, queryDoc, queryTok, queryVec, k = poolK)
      .select(col("neighbor_id").as("doc_id"),
        col("rn").as("maxsim_rank"))
    lex.join(ms, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(rrfPoints(col("bm25_rank"), c), lit(0L)) +
          coalesce(rrfPoints(col("maxsim_rank"), c), lit(0L)))
          .as("rrf_micros"),
        col("bm25_rank"), col("maxsim_rank"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** [[hybridTopK]] SERVED FROM THE PERSISTED INDEXES (r12, VERDICT r11
    * #7): the lexical pool comes from the bucket-pruned BM25 probe
    * ([[searchBm25Index]] — reads ≤ |terms| bucket dirs) and the dense
    * pool from the cell-pruned IVF probe (reads nprobe cell dirs of the
    * cosine index at `ivfPath`), fused with the SAME exact-integer RRF.
    * One query touches index directories only — never either corpus —
    * which is the serving-path composition a 100 TB deployment needs
    * (the recompute-from-corpus [[hybridTopK]] stays as the oracle-exact
    * batch lane). The dense pool is nprobe-approximate exactly like every
    * IVF probe; ranks within each pool are deterministic (score desc,
    * doc_id asc), so the fusion replays bit-for-bit in the q198 oracle. */
  def hybridIndexTopK(spark: SparkSession, bm25Path: String, ivfPath: String,
                      terms: Seq[String], queryVec: Seq[Double],
                      k: Int, poolK: Int = 50, c: Int = 60, nprobe: Int = 1,
                      params: Bm25Params = Bm25Params()): DataFrame = {
    require(poolK >= k, s"poolK ($poolK) must be >= k ($k)")
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val lexPool = searchBm25Index(spark, bm25Path, terms, poolK, params)
      .select(col("doc_id"), col("score_micros"))
    val lex = lexPool.select(col("doc_id"),
      row_number().over(Window.orderBy(col("score_micros").desc,
        col("doc_id"))).cast("long").as("bm25_rank"))
    // the same float→q3 quantization hybridTopK applies to the raw query
    val qvArr: Array[Long] = queryVec
      .map(d => math.floor(d.toFloat.toDouble * 1000 + 0.5).toLong).toArray
    // the dense pool DISPATCHES on the index's _metric sidecar (ADVICE
    // r12 — a cosine-only lane silently probed L2/IP cells chosen under
    // the wrong metric and crashed on SQ8's codes-only rows): cells are
    // chosen under the index's metric, candidates scored with it (SQ8
    // decodes against the trained bounds, the ADC serving shape), and
    // rank direction follows its kind (similarity desc, distance asc).
    // RRF fuses RANKS, so the pools compose across metrics unchanged.
    val K = graft.functions.Kernels
    val cents = Similarity.readCentroids(spark, ivfPath)
    val metric = Similarity.indexMetric(spark, ivfPath)
    val probed = (metric match {
      case "l2" | "l2-sq8" => cents
        .map { case (id, cv) => (id, K.l2sqArrays(qvArr, cv).toDouble) }
        .sortBy { case (id, d) => (d, id) }
      case "ip" => cents
        .map { case (id, cv) => (id, K.dotArrays(qvArr, cv).toDouble) }
        .sortBy { case (id, d) => (-d, id) }
      case _ => cents
        .map { case (id, cv) => (id, K.cosineQ6Arrays(qvArr, cv)) }
        .sortBy { case (id, cos) => (-cos, id) }
    }).take(nprobe).map(_._1)
    val pruned = Similarity.readAssign(spark, ivfPath)
      .filter(col("cell").isin(probed.map(Int.box).toSeq: _*))
    val qLit = typedlit(qvArr.toSeq)
    val (scoreCol, asc) = metric match {
      case "l2" => (F.vec_l2sq_long(col("cv"), qLit), true)
      case "l2-sq8" =>
        val (mn, mx) = Similarity.readSq8Bounds(spark, ivfPath)
        (F.vec_l2sq_long(F.vec_sq8_recon(col("codes"),
          typedlit(mn.toSeq), typedlit(mx.toSeq)), qLit), true)
      case "ip" => (F.vec_dot_long(col("cv"), qLit), false)
      case _ => (F.vec_cosine_q6(col("cv"), qLit), false)
    }
    def ord = if (asc) col("s").asc_nulls_last else col("s").desc
    val densePool = pruned
      .select(col("neighbor_id").cast("long").as("doc_id"),
        scoreCol.as("s"))
      .orderBy(ord, col("doc_id"))
      .limit(poolK)
    val dense = densePool.select(col("doc_id"),
      row_number().over(Window.orderBy(ord, col("doc_id")))
        .cast("long").as("ann_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(rrfPoints(col("bm25_rank"), c), lit(0L)) +
          coalesce(rrfPoints(col("ann_rank"), c), lit(0L)))
          .as("rrf_micros"),
        col("bm25_rank"), col("ann_rank"))
      .orderBy(col("rrf_micros").desc, col("doc_id"))
      .limit(k)
  }
}
