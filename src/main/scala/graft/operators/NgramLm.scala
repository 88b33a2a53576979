package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{KernelExprs, NgramLmTable, Functions => F, TextFunctions => TF}

/** Count-based n-gram language model with STUPID BACKOFF scoring (Brants
  * et al. 2007) — the engine's perplexity-filter lane: CCNet (Wenzek et
  * al. 2020) gates web corpora on a reference LM's per-document log-score,
  * and at corpus scale the LM itself must train distributed, which is
  * precisely what stupid backoff was designed for (count ratios only, no
  * cross-order normalization passes).
  *
  * TRAIN — one corpus pass: every order 1..n explodes off the SAME token
  * array into a single map-side-combined gram count (orders share one
  * aggregate; a gram's order is its space count + 1, so keys cannot
  * collide across orders). Pruning is `minCount` (a partial-aggregatable
  * filter) plus a per-order `maxGramsPerOrder` cap taken as
  * `ORDER BY cnt DESC, gram LIMIT cap` — Spark executes that as
  * TakeOrdered (per-partition top-cap + driver merge), never a global
  * sort, so the only driver-sized object is the capped model itself. The
  * (cnt DESC, gram ASC) total order makes the cap deterministic across
  * partitionings.
  *
  * SCORE — zero joins, zero shuffles: the capped model ships inside a
  * codegen'd expression ([[KernelExprs.NgramLmScore]], the
  * [[graft.functions.BpeTable]] pattern), each document scored in one
  * whole-stage-codegen pass. Per-position values are integer ln-micros
  * of model COUNTS (fdlibm, evaluated once per distinct count — see
  * [[NgramLmTable]]) combined additively and summed exactly —
  * partitioning and aggregation order cannot move a score, and the SQL
  * oracle (q167) replays train AND score bit-for-bit from a literal
  * ln-micros table, never calling its own `ln`.
  */
object NgramLm {

  /** Train an order-`n` model over `text`. `minCount` drops rare grams
    * (CCNet prunes its KenLM the same way); `maxGramsPerOrder` bounds
    * driver/model memory — binding it trades tail coverage for size,
    * deterministically. The capped model is SERIALIZED INTO EVERY PLAN
    * that scores with it (addReferenceObj), so the default keeps n·cap at
    * a few-hundred-thousand grams (tens of MB of plan); larger reference
    * LMs should stay persisted ([[save]]/[[load]]) and be scored
    * per-partition from an executor-cached load rather than shipped —
    * raising the cap past ~2²⁰ trades every job submission's plan size
    * for tail coverage. */
  def train(docs: DataFrame, text: Column, n: Int,
            minCount: Int = 1, maxGramsPerOrder: Int = 1 << 17,
            alpha: Double = 0.4): NgramLmTable = {
    require(n >= 1, s"ngram order must be >= 1 (got $n)")
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    require(maxGramsPerOrder >= 1,
      s"maxGramsPerOrder must be >= 1 (got $maxGramsPerOrder)")
    val ts = docs.select(TF.tokens(text).as("ts"))
    val counts = ts
      .select(explode(flatten(array(
        (1 to n).map(o => TF.word_shingles_of(col("ts"), o)): _*))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .withColumn("ord", size(split(col("gram"), " ", -1)))
      .persist()
    try {
      // total runs FIRST (alone): it materializes the persisted counts,
      // so the concurrent cap jobs read the cache instead of racing to
      // recompute the same partitions
      val total = counts.filter(col("ord") === 1)
        .agg(coalesce(sum(col("cnt")), lit(0L))).head.getLong(0)
      require(total > 0, "ngram training corpus has no tokens")
      // the per-order caps are independent TakeOrdered jobs over the one
      // persisted count frame; results are per-order deterministic either
      // way (the (cnt DESC, gram) total order)
      val map = new java.util.HashMap[String, java.lang.Long]()
      graft.DriverPool.run(n)((1 to n).map { o => () =>
        counts.filter(col("ord") === o && col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("gram").asc)
          .limit(maxGramsPerOrder)
          .select(col("gram"), col("cnt"))
          .collect()
      }).foreach(_.foreach(r => map.put(r.getString(0), r.getLong(1))))
      new NgramLmTable(n, alpha, total, map)
    } finally { counts.unpersist(); () }
  }

  /** Per-document stupid-backoff scores:
    * (doc_id, n_tokens, logscore_micros, avg_logp) — `avg_logp` is the
    * CCNet-style filter metric (mean per-token ln-score, q6), null for
    * token-free documents. */
  def scores(docs: DataFrame, id: Column, text: Column,
             table: NgramLmTable): DataFrame =
    docs.select(id.as("doc_id"),
        KernelExprs.ngram_lm_score(text, table).as("s"))
      .select(col("doc_id"),
        col("s.n_tokens").cast("long").as("n_tokens"),
        col("s.logscore_micros").as("logscore_micros"),
        when(col("s.n_tokens") > 0,
          F.qround(col("s.logscore_micros").cast("double") / 1000000.0
            / col("s.n_tokens"), 6)).as("avg_logp"))

  /** Stage-bisected per-document score ingredients
    * ([[graft.functions.NgramLmTable.scoreParts]]): the same position
    * walk as [[scores]] with num/den/backoffs and lnm(num)/lnm(den)
    * summed separately — the q167 companion-gate surface that lets a
    * driver-side hash divergence name the stage (model lookup vs backoff
    * selection vs integer log) instead of just the query. */
  def parts(docs: DataFrame, id: Column, text: Column,
            table: NgramLmTable): DataFrame =
    docs.select(id.as("doc_id"),
        KernelExprs.ngram_lm_parts(text, table).as("p"))
      .select(col("doc_id"),
        col("p.n_tokens").cast("long").as("n_tokens"),
        col("p.sum_num").as("sum_num"),
        col("p.sum_den").as("sum_den"),
        col("p.sum_backoffs").as("sum_backoffs"),
        col("p.sum_lnum").as("sum_lnum"),
        col("p.sum_lden").as("sum_lden"))

  /** The trained model's own surface as a per-order summary — gram count,
    * total count mass, and an order-free content fingerprint
    * (Σ hash60(gram ‖ ':' ‖ cnt) mod 1e9+7) per order, plus an
    * `ord = 0` row carrying the unigram total — so the q167 companion
    * gate (q167a) pins exactly what the scorer will look up. The model is
    * driver-sized by construction (the per-order cap), so building the
    * frame from its entries is not a collect of corpus data. */
  def modelSummary(spark: SparkSession, table: NgramLmTable): DataFrame = {
    import spark.implicits._
    val Mod = 1000000007L
    def h(s: String): Long = graft.functions.Kernels.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)) % Mod
    val perOrd = table.gramEntries.toSeq
      .map { case (g, c) => (g.count(_ == ' ') + 1L, c, h(s"$g:$c")) }
      .groupBy(_._1).toSeq
      .map { case (ord, xs) =>
        (ord, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum) }
    val totRow = (0L, 1L, table.total, h(table.total.toString))
    (perOrd :+ totRow).toDF("ord", "n_grams", "sum_cnt", "fp")
      .orderBy(col("ord"))
  }

  /** Persist a trained model: `(gram, cnt)` rows plus a one-row meta
    * parquet (n, alpha, total) — engine-neutral like [[Bpe.save]]. */
  def save(table: NgramLmTable, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    table.gramEntries.toSeq.toDF("gram", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/grams")
    Seq((table.n, table.alpha, table.total)).toDF("n", "alpha", "total")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: SparkSession, path: String): NgramLmTable = {
    val meta = spark.read.parquet(s"$path/meta").head
    val map = new java.util.HashMap[String, java.lang.Long]()
    spark.read.parquet(s"$path/grams").collect()
      .foreach(r => map.put(r.getString(0), r.getLong(1)))
    new NgramLmTable(meta.getInt(0), meta.getDouble(1), meta.getLong(2), map)
  }
}
