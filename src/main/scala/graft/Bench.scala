package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints TWO JSON lines for the driver (BENCH_r{N}.json): a `detail` line
  * with per-run wall/cpu arrays first, then a compact summary line LAST —
  * the driver captures the output tail, and r8 proved a single giant line
  * gets truncated into unparseability, losing the round's numbers.
  *
  * Methodology (VERDICT r2 #2/#6, hardened after BENCH_r04; lanes split
  * after VERDICT r8 #2):
  *  - per-query WARM-UP run excluded from timing (first execution pays
  *    5-8 s of JIT + codegen that is not the query's cost);
  *  - timed runs are interleaved ROUND-ROBIN (pass 1 of every query, then
  *    pass 2, then pass 3) instead of back-to-back per query: BENCH_r04
  *    billed q45/q77/q78 at 23/18/48 s — all three sub-second warm on a
  *    quiet host — because a degraded host window swallowed every
  *    consecutive run of whichever queries were scheduled inside it.
  *    Round-robin spreads each query's runs across the whole bench window,
  *    so best-of-3 survives a transient stall;
  *  - every run records wall time AND JVM process-CPU time (`runs` /
  *    `cpu` arrays on the detail line): cpu ≪ wall on a run means the
  *    clock was stolen by the host, not burned by the engine;
  *  - q68's input synthesis (a to_json round-trip that exists only in the
  *    bench) is materialized to parquet ONCE and billed to `fixtures`;
  *  - LAKE lanes are SPLIT (r8 verdict #2): the old composite lanes
  *    (q96/q103/q106/q109/q110/q111) billed 4-8 z-ordered WRITES per run
  *    and hid the zero-task reads they exist to measure. Now `qW_*` lanes
  *    time the write/maintenance paths against a fresh directory each run,
  *    and `qR_*` lanes time ONLY the read paths against per-process
  *    pre-built lakes (billed to `fixtures`) — a read regression is
  *    visible, and write throughput has its own number;
  *  - `recall_ivfpq_at10` reports ADC-ranked IVF-PQ recall@10 vs exact
  *    brute force on the embeddings table (r8 verdict #7), and
  *    `recall_ivfpq_rerank_at10` the same operating point through
  *    [[graft.operators.Similarity.ivfPqRerankTopK]]'s exact-rerank tail:
  *    approximation QUALITY is pinned in the artifact, not just
  *    determinism;
  *  - a query that throws is reported null and excluded from the total,
  *    never as a fast "success".
  */
object Bench {

  /** Pure floor-breach arithmetic, PER PASS (r15, VERDICT r14 #3b; the
    * best-of canary of r12-r14 could not protect a lane whose every run
    * sat inside a host storm while the canary's best run fell outside
    * it — BENCH_r14's q68_stream billed 5.32 s from runs [5.3, 80, 55]
    * while q01's best escaped the storm and scaled the floors by only
    * 1.16×). The canary lane is timed IN every pass, so each pass gets
    * its own weather factor `clamp(canary_p / committed, 1, 3)` (capped
    * so a catastrophic canary cannot hide unbounded regressions), every
    * lane run is discounted by ITS OWN pass's factor, and the floor
    * compares against the best normalized run. A storm that swallows
    * pass 2 inflates pass 2's canary too — the lane's pass-2 run
    * self-discounts instead of breaching. A genuine single-lane plan
    * regression still trips: it moves one lane in every pass, not the
    * canary. Raw numbers stay unscaled in the artifact; normalization
    * exists only inside the breach comparison. Returns (per-pass
    * factors, lane → (normalizedBest, floor)). */
  private[graft] def floorBreachesPerPass(runs: Map[String, Seq[Double]],
      floors: Map[String, Double],
      canary: Option[(String, Double)])
      : (Seq[Double], Map[String, (Double, Double)]) = {
    val nPasses = runs.values.foldLeft(0)(_ max _.size)
    // NaN slots (ADVICE r15: failed retry runs hold their pass position)
    // carry no evidence: a NaN canary run means pass p has no weather
    // reading (factor 1.0 — no discount), a NaN lane run is skipped
    val factors = (0 until nPasses).map { p =>
      canary.flatMap { case (lane, committed) =>
        runs.get(lane)
          .filter(r => committed > 0 && r.size > p && !r(p).isNaN)
          .map(r => math.min(3.0, math.max(1.0, r(p) / committed)))
      }.getOrElse(1.0)
    }
    def normBest(rs: Seq[Double]): Double =
      rs.zipWithIndex.collect { case (w, p) if !w.isNaN =>
        w / (if (p < factors.size) factors(p) else 1.0)
      }.min
    val breaches = runs.collect {
      case (n, rs) if rs.exists(!_.isNaN) && floors.contains(n) &&
          normBest(rs) > floors(n) =>
        n -> ((normBest(rs), floors(n)))
    }
    (factors, breaches)
  }

  /** Which passes' weather factors saturated the 3.0 clamp (VERDICT r15
    * #6): a clamped pass means the canary itself ran ≥3× its committed
    * best, so a real regression up to (ratio/3)× could hide inside the
    * discount that pass. Recorded in the artifact so a 4× move in a
    * 3×-storm window is visible evidence, not a silent absorption. */
  private[graft] def clampSaturated(ratios: Seq[Double]): Seq[Boolean] =
    ratios.map(r => !r.isNaN && r >= 3.0)

  /** The UNCAPPED per-pass canary ratios (ADVICE r12, re-armed r15): the
    * capped factors above scale every floor, so a genuinely uniform
    * regression (a JVM/codegen-wide slowdown that moves the canary too)
    * is invisible to the per-lane gate. Turned into a loud `__canary__`
    * breach only when the host is demonstrably QUIET (load per core
    * below `quietLoad`) AND EVERY pass's canary ran past
    * `maxQuietRatio`: on a quiet host a consistently slow canary IS the
    * engine, while one slow pass is weather that the other passes
    * acquit. r14's false alarm (ratio 1.633 at load/core 0.108 — ~3.5
    * cores of background work misread as quiet) sets the threshold:
    * quietLoad dropped 0.5 → 0.07, below every observed genuinely-idle
    * close-out (0.053-0.066) and every observed mildly-loaded false
    * fire. Returns (worst ratio, bound) when it fires. */
  private[graft] def canaryBreach(ratios: Seq[Double], loadPerCore: Double,
      quietLoad: Double = 0.07, maxQuietRatio: Double = 1.5)
      : Option[(Double, Double)] =
    if (ratios.nonEmpty && loadPerCore >= 0 && loadPerCore < quietLoad &&
        ratios.forall(_ > maxQuietRatio))
      Some((ratios.min, maxQuietRatio))
    else None

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMillis(): Long = {
    var t = 0L
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    while (it.hasNext) {
      val c = it.next().getCollectionTime
      if (c > 0) t += c
    }
    t
  }

  private def jitMillis(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }

  /** Executor TASK cpu nanos, accumulated by a listener — unlike the
    * process-cpu delta (which bills listener/UI/GC threads too), this is
    * the work the QUERY's tasks did, the per-lane discriminator VERDICT
    * r13 #4 asked for (host weather moves wall, not task cpu). Listener
    * delivery is async; lanes end in a blocking collect, so attribution
    * error is bus-lag-sized (ms). */
  private val taskCpuNs = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val taskCpuListener =
    new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) { taskCpuNs.addAndGet(m.executorCpuTime); () }
      }
    }

  /** (wall sec, process-cpu sec, gc sec, jit sec, task-cpu sec, failed)
    * for one execution. gc/jit are the JVM-wide deltas over the run
    * window — the discriminators for "the engine got slower" vs "the JVM
    * was busy collecting / recompiling" (the r10→r11 q30 drift
    * adjudication). */
  private def time(body: => Unit)
      : (Double, Double, Double, Double, Double, Boolean) = {
    val j0 = jitMillis()
    val g0 = gcMillis()
    val c0 = osBean.getProcessCpuTime
    val k0 = taskCpuNs.get()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case _: Throwable => false }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (osBean.getProcessCpuTime - c0) / 1e9
    val gc = (gcMillis() - g0) / 1e3
    val jit = (jitMillis() - j0) / 1e3
    val tcpu = (taskCpuNs.get() - k0) / 1e9
    (wall, cpu, gc, jit, tcpu, !ok)
  }

  private final class Timed(val name: String, body0: => Unit, val fixture: Boolean = false) {
    // guide §1.5: label every lane's jobs so UI/joblog output attributes
    // to lanes; description is thread-local and cleared after the body
    private def body: Unit = {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      sc.setJobDescription(name)
      try body0 finally sc.setJobDescription(null)
    }
    val wall = collection.mutable.ArrayBuffer[Double]()
    val cpu = collection.mutable.ArrayBuffer[Double]()
    val gc = collection.mutable.ArrayBuffer[Double]()
    val jit = collection.mutable.ArrayBuffer[Double]()
    val tcpu = collection.mutable.ArrayBuffer[Double]()
    // solo-retry window (VERDICT r14 #3a): a second, post-bench chance
    // for lanes the main window breached — never billed into the totals,
    // only consulted by the breach adjudication
    val wallRetry = collection.mutable.ArrayBuffer[Double]()
    val tcpuRetry = collection.mutable.ArrayBuffer[Double]()
    var failed = false
    def warmUp(): Unit = { failed ||= time(body)._6 } // JIT + codegen, not billed
    def run(): Unit = {
      val (w, c, g, j, k, f) = time(body)
      wall += w; cpu += c; gc += g; jit += j; tcpu += k; failed ||= f
    }
    def runRetry(): Unit = {
      val (w, _, _, _, k, f) = time(body)
      // ADVICE r15: a failed retry run keeps its SLOT as NaN so the
      // retry arrays stay pass-aligned — silently compacting them paired
      // a lane's pass-p run with the wrong pass's canary weather factor
      wallRetry += (if (f) Double.NaN else w)
      tcpuRetry += (if (f) Double.NaN else k)
    }
  }

  /** Per-process pre-built lakes for the `qR_*` read-only lanes. Shapes
    * mirror the correctness fixtures (q96/q110/q111/q115 → [[flat]];
    * q106/q109/q112/q113/q114 → [[windowed]]; q117 → [[timeLake]]) so the
    * read lanes measure the same plans the gate proves correct. */
  private final class LakeFixtures(spark: SparkSession, sfDir: String) {
    private def T(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")
    private def tmp(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-bench-$tag").toString

    /** Flat 16-file z-lake over customer with bloom + exact-sum manifests. */
    val flat: String = tmp("zflat") + "/customer"
    /** win=0..3 windowed lake with sum + HLL-sketch manifests. */
    val windowed: String = tmp("zwin") + "/customer"
    /** 8-file time-enveloped event lake (annotated TIMESTAMP stats). */
    val timeLake: String = tmp("ztime") + "/events"
    /** Term-bucketed positional BM25 postings index over documents
      * (q174/q180/q181's shape) — the retrieval serving path. */
    val bm25Idx: String = tmp("bm25") + "/idx"
    /** The SAME index shape at the layered-compaction steady state: base
      * + 3 uncompacted appends = a MaxLayers-deep generation chain, so
      * the per-probe layer-listing tax is a measured number next to the
      * flat twin above, not an assumption (VERDICT r13 #6). */
    val bm25IdxChain: String = tmp("bm25c") + "/idx"
    /** Cell-partitioned cosine IVF index over embeddings (q198's dense
      * serving side; 8 seed cells). */
    val ivfIdx: String = tmp("ivf") + "/idx"
    /** Materialized (doc, tok, embedding) token corpus — the registered
      * base of the declarative-MaxSim read lane (q219's shape). */
    val mvToks: String = tmp("mvtoks") + "/toks"
    /** Codes-only IVF,SQ8 index (q206/q207's serving layout). */
    val sq8Idx: String = tmp("sq8") + "/idx"
    /** Bloom-manifested embeddings z-lake — the PRIMARY store the
      * lake-served rerank tail point-reads (RerankLakeSpec's shape). */
    val embLake: String = tmp("emblake") + "/emb"

    def customerProj: DataFrame = T("customer").select(col("c_custkey"),
      (col("c_custkey") % 256).cast("long").as("a"),
      (col("c_custkey") * 7 % 256).cast("long").as("b"),
      col("c_acctbal"),
      concat(lit("u"), (col("c_custkey") % 9973).cast("string")).as("uid"))

    def windowedProj: DataFrame = T("customer").select(col("c_custkey"),
      (col("c_custkey") % 256).cast("long").as("a"),
      (col("c_custkey") * 7 % 256).cast("long").as("b"),
      when(col("c_custkey") % 5 =!= 0, col("c_name")).as("phone"),
      col("c_acctbal").cast("decimal(18,2)").as("bal"),
      (col("c_custkey") % 97).cast("long").as("u"))

    def eventsProj: DataFrame =
      T("events").select(col("event_id"), col("ts").as("t"))

    def writeFlat(path: String): Unit =
      graft.sinks.Sinks.zorderedWrite(customerProj, "a", "b", path,
        numFiles = 16, bits = 8, bloomCols = Seq("uid"),
        sumCols = Seq("c_custkey"))

    def writeWindowed(root: String): Unit =
      // four disjoint window directories, each write deterministic, so
      // the lane pays one planning/commit tail, not four; bytes per window
      // are identical to the sequential loop
      DriverPool.run(4)((0 until 4).map { w => () =>
        graft.sinks.Sinks.zorderedWrite(
          windowedProj.filter(col("c_custkey") % 4 === w),
          "a", "b", s"$root/win=$w", numFiles = 4, bits = 8,
          sumCols = Seq("c_custkey", "bal"),
          sketchCols = Seq("u"), sketchM = 16)
      })

    /** q103's maintenance path: 4 fragmented appends, then compaction. */
    def appendAndCompact(root: String): Unit = {
      val base = T("customer").select(col("c_custkey"),
        (col("c_custkey") % 256).cast("long").as("a"),
        (col("c_custkey") * 7 % 256).cast("long").as("b"),
        col("c_acctbal"),
        timestamp_seconds(col("c_custkey") % 2 * 60).as("accesstime"))
      for (part <- 0 until 4)
        graft.sinks.Sinks.lakeAppend(
          Map("customer" -> base.filter(col("c_custkey") % 4 === part)
            .repartition(3)), root)
      graft.sinks.Sinks.compactLake(spark, s"$root/customer", "a", "b",
        filesPerPartition = 4, bits = 8)
    }

    def build(): Unit = {
      // independent fixtures; each thunk keeps its own internal ordering
      // (snapshot after its lake, appends after their base, MaxSim
      // registration after both of its inputs)
      val emb = T("embeddings")
      DriverPool.run(6)(Seq(
        () => {
          writeFlat(flat)
          // pin the flat lake for the snapshot read lane: qR_snapshot_agg
          // measures time-travel planning against qR_envelope_agg's live
          // read
          graft.sources.Snapshots.snapshot(spark, flat, "bench")
        },
        () => writeWindowed(windowed),
        () => graft.sinks.Sinks.zorderedWrite(eventsProj, "t", "event_id",
          timeLake, numFiles = 8, bits = 16),
        () => graft.operators.Retrieval.writeBm25Index(T("documents"),
          col("doc_id"), col("text"), bm25Idx, nBuckets = 64),
        () => {
          // layered twin: 3 appends, NO compaction → a 4-layer chain
          // (appends stack layers; only compaction flattens at MaxLayers)
          graft.operators.Retrieval.writeBm25Index(T("documents"),
            col("doc_id"), col("text"), bm25IdxChain, nBuckets = 64)
          (1 to 3).foreach { i =>
            graft.operators.Retrieval.appendBm25Index(
              T("documents").filter(col("doc_id") % 16 === i)
                .select((col("doc_id") + i * 1000000L).as("doc_id"),
                  col("text")),
              col("doc_id"), col("text"), bm25IdxChain)
          }
        },
        () => {
          graft.operators.Similarity.writeIvfIndex(emb, col("vec_id"),
            col("embedding"), emb.filter(col("vec_id") < 8),
            col("vec_id"), col("embedding"), ivfIdx)
          // declarative-MaxSim base: the ivfIdx token index (keyed by
          // vec_id = tok) serves the registered (doc, tok, embedding)
          // corpus
          emb.select(floor(col("vec_id") / 4).cast("long").as("doc"),
              col("vec_id").as("tok"), col("embedding"))
            .write.mode("overwrite").parquet(mvToks)
          graft.plans.MaxSimIndex.register(spark, mvToks, ivfIdx,
            docCol = "doc", tokCol = "tok", vecCol = "embedding",
            nprobe = 2, tokK = 8)
        },
        () => graft.operators.Similarity.writeIvfIndexSq8(emb,
          col("vec_id"), col("embedding"), emb.filter(col("vec_id") < 8),
          col("vec_id"), col("embedding"), sq8Idx),
        () => graft.sinks.Sinks.zorderedWrite(
          emb.withColumn("pad", (col("vec_id") % 97).cast("long")),
          "vec_id", "pad", embLake, numFiles = 16, bits = 12,
          bloomCols = Seq("vec_id"))))
    }

    /** Fixed hybrid query vector (embedding 7, q198's). */
    lazy val hybridQv: Seq[Double] = T("embeddings")
      .filter(col("vec_id") === 7).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toSeq

    /** Fixed MLT source text (document 42, q199/q200's). */
    lazy val mltText: String = T("documents")
      .filter(col("doc_id") === 42).select(col("text"))
      .head().getString(0)
  }

  /** IVF-PQ recall@10 against exact brute-force cosine top-10 at the q99
    * operating point (8 seed cells, m=8, 16 codes) with nprobe=2 —
    * the bench artifact's approximation-quality number (VERDICT r8 #7;
    * the hard floor lives in IvfPqSpec). */
  private def ivfPqRecall(spark: SparkSession, sfDir: String,
                          refineFactor: Option[Int]): Double = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.operators.Similarity.ivfPqRecallAtK(
      emb, col("vec_id"), col("embedding"),
      queries = emb.filter(col("vec_id") < 8),
      seeds = emb.filter(col("vec_id") < 8),
      m = 8, numCodes = 16, k = 10, nprobe = 2,
      refineFactor = refineFactor)
  }

  /** IVF,SQ8 recall@10 vs exact brute-force L2 top-10 at the q206
    * operating point (8 seed cells, nprobe=2) — the 4×-compression
    * quality number next to the PQ lanes' 32×. */
  private def ivfSq8Recall(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.DataFrame
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val path = java.nio.file.Files
      .createTempDirectory("graft-bench-sq8").toString + "/idx"
    graft.operators.Similarity.writeIvfIndexSq8(emb, col("vec_id"),
      col("embedding"), emb.filter(col("vec_id") < 8),
      col("vec_id"), col("embedding"), path)
    def sets(df: DataFrame, idIdx: Int, nIdx: Int): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(idIdx)).view
        .mapValues(_.map(_.getLong(nIdx)).toSet).toMap
    val exact = sets(graft.operators.Similarity.l2TopK(emb, col("vec_id"),
      col("embedding"), queries, col("vec_id"), col("embedding"), 10), 0, 1)
    val got = sets(graft.operators.Similarity.ivfSq8TopKIndexed(spark, path,
      queries, col("vec_id"), col("embedding"), 10, nprobe = 2), 0, 2)
    exact.keys.toSeq.map(q =>
      (exact(q) & got.getOrElse(q, Set.empty)).size.toDouble / 10).sum /
      math.max(exact.size, 1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.addSparkListener(taskCpuListener)
    // SPARK_GRAFT_BENCH_JOBLOG=1: per-job wall breakdown on STDERR (lane
    // attribution for the optimization rounds — which of a lane's Spark
    // jobs the wall clock goes to). Off by default; never touches the
    // stdout JSON contract.
    if (sys.env.get("SPARK_GRAFT_BENCH_JOBLOG").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Long)]()
          private val lastEnd = new java.util.concurrent.atomic.AtomicLong(0L)
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val d = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("") + " @ " + Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("")
            val now = System.nanoTime()
            val prev = lastEnd.get()
            // "gap" = driver think-time since the previous job ended —
            // planning, file listing, footer reads, journal/FS work
            starts.put(e.jobId, (now, d, if (prev == 0L) 0L else now - prev))
            ()
          }
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.remove(e.jobId)
            val now = System.nanoTime()
            lastEnd.set(now)
            if (s != null) System.err.println(
              f"[joblog] job ${e.jobId}%4d ${(now - s._1) / 1e9}%7.3f s gap ${s._3 / 1e9}%7.3f s  ${s._2}")
          }
        })
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // session warm-up

    // SPARK_GRAFT_BENCH_ONLY: comma-separated lane-name prefixes — runs
    // just those lanes (plus any fixtures they need). The solo-lane
    // harness perf investigations need (e.g. the r10→r11 q30 root-cause
    // run measured the lane with and without the rest of the bench's
    // memory pressure).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val engineNames = Queries.benchNames
      .filterNot(_ == "q68_batch_window_trend").filter(wanted)
    val rawPath = java.nio.file.Files.createTempDirectory("graft-bench-raw")
      .resolve("raw").toString
    val lakes = new LakeFixtures(spark, sfDir)
    import graft.sources.ZLake
    def freshDir(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-bench-$tag").toString

    val timed: Seq[Timed] =
      engineNames.map(n => new Timed(n, Queries.byName(n).fn(spark, sfDir).count())) ++ Seq(
        new Timed("q68_synth", QueriesDns.synthesizeRawWindow(spark, sfDir, rawPath),
          fixture = true),
        new Timed("lake_fixtures", lakes.build(), fixture = true),
        new Timed("q68_pipeline", QueriesDns.runWindowFromRaw(spark, rawPath)),
        // the same window through Structured Streaming (file source +
        // AvailableNow + foreachBatch): the delta vs q68_pipeline is the
        // streaming machinery's own cost
        new Timed("q68_stream", QueriesDns.runWindowStreaming(spark, rawPath)),

        // ---- lake WRITE lanes: fresh target directory every run ----
        new Timed("qW_zorder_write",
          lakes.writeFlat(freshDir("wflat") + "/customer")),
        // same rows/files/stats through the Hilbert curve: the artifact's
        // curve-cost comparison (index math is the only delta vs qW_zorder)
        new Timed("qW_hilbert_write",
          graft.sinks.Sinks.hilbertWrite(lakes.customerProj, "a", "b",
            freshDir("whil") + "/customer", numFiles = 16, bits = 8,
            bloomCols = Seq("uid"), sumCols = Seq("c_custkey"))),
        new Timed("qW_windowed_write",
          lakes.writeWindowed(freshDir("wwin") + "/customer")),
        new Timed("qW_append_compact",
          lakes.appendAndCompact(freshDir("wcompact"))),
        // materialized-view maintenance: bootstrap merge + one
        // incremental fence-committed merge against a fresh root
        new Timed("qW_mv_merge", {
          val root = freshDir("wmv") + "/mv"
          val spec = graft.sinks.MaterializedAgg.Spec(
            Seq("c_mktsegment"), Seq("c_custkey"))
          val base = spark.read.parquet(s"$sfDir/customer.parquet")
            .select(col("c_custkey"), col("c_mktsegment"))
          for (i <- 0 until 2)
            graft.sinks.MaterializedAgg.mergeBatch(spark, root,
              base.filter(col("c_custkey") % 2 === i), spec, i.toLong)
        }),
        // copy-on-write DELETE over a fresh 16-file lake: the u-predicate
        // straddles every envelope, so the whole lake is rewrite-class —
        // the r10 one-job staging path end to end (build cost ≈ the
        // qW_zorder_write lane; the delta is the delete itself)
        new Timed("qW_cow_delete", {
          val root = freshDir("wdel") + "/customer"
          lakes.writeFlat(root)
          graft.sinks.LakeDelete.deleteFromLake(spark, root,
            col("c_custkey") % 97 === 13)
          ()
        }),
        // the merge-on-read twin of qW_cow_delete: SAME fixture write and
        // predicate, but positions are recorded instead of files
        // rewritten — the lane delta vs qW_cow_delete IS the DV win for
        // scattered point deletes
        new Timed("qW_mor_delete", {
          val root = freshDir("wmor") + "/customer"
          lakes.writeFlat(root)
          graft.sinks.DeletionVectors.deleteMoR(spark, root,
            col("c_custkey") % 97 === 13)
          ()
        }),
        // conditioned MERGE (r11): fixture write + one clause-routed CDC
        // batch — post-image join, keyed delete, staged inserts, one
        // journal; the lane delta vs qW_zorder_write IS the merge
        new Timed("qW_cond_merge", {
          val root = freshDir("wmrg") + "/customer"
          lakes.writeFlat(root)
          val src = spark.range(3000).select(
            (col("id") * 5).as("c_custkey"),
            (col("id") % 3).as("flag"), (col("id") % 100).as("bump"))
          graft.sinks.LakeDelete.mergeLake(spark, root, src, "c_custkey",
            Seq(
              graft.sinks.LakeDelete.MergeMatched(
                Some(col("s.flag") === 0L),
                Some(Seq("a" -> (col("t.a") + col("s.bump"))))),
              graft.sinks.LakeDelete.MergeMatched(
                Some(col("s.flag") === 1L), None)))
          ()
        }),
        // snapshot + CoW damage + RESTORE (r11): the rollback round trip
        // against a fresh lake — the delta vs qW_cow_delete is the
        // snapshot pin plus the restore's trash copy-back and journal
        new Timed("qW_restore", {
          val root = freshDir("wrst") + "/customer"
          lakes.writeFlat(root)
          graft.sources.Snapshots.snapshot(spark, root, "pin")
          graft.sinks.LakeDelete.deleteFromLake(spark, root,
            col("c_custkey") % 97 === 13)
          graft.sources.Snapshots.restore(spark, root, "pin")
          ()
        }),
        // within-bucket compaction (r11): fragmented bucketed lake
        // (bootstrap + 3 appends) pooled back to one file per bucket
        new Timed("qW_bucket_compact", {
          val root = freshDir("wbkt") + "/customer"
          val proj = lakes.customerProj
          graft.sinks.Sinks.bucketedLakeWrite(
            proj.filter(col("c_custkey") % 4 =!= 0), Seq("c_custkey"), 8,
            root)
          for (i <- 1 to 3)
            graft.sinks.LakeDelete.appendLake(spark, root,
              proj.filter(col("c_custkey") % 4 === 0 &&
                col("c_custkey") % 3 === i % 3))
          graft.sinks.Sinks.compactBucketedLake(spark, root)
          ()
        }),

        // ---- lake READ lanes: pre-built fixtures, plans mirror the
        //      gate queries (collect() — results are ≤ 50 rows) ----
        new Timed("qR_envelope_agg", ZLake.read(spark, lakes.flat)
          .filter(col("a").between(32, 63) && col("b").between(64, 127))
          .agg(count("*"), sum("a"), sum("b"),
            sum(floor(col("c_acctbal") * 100).cast("long"))).collect()),
        new Timed("qR_topk_prune", ZLake.read(spark, lakes.flat)
          .orderBy(col("a").desc, col("c_custkey")).limit(25).collect()),
        new Timed("qR_topk_filtered", ZLake.read(spark, lakes.flat)
          .filter(col("b").between(64, 127))
          .orderBy(col("a").desc, col("c_custkey")).limit(25).collect()),
        new Timed("qR_bloom_point", ZLake.read(spark, lakes.flat)
          .filter(col("uid").isin("u17", "u1234", "u99999"))
          .groupBy("uid").agg(count("*"), sum("c_custkey")).collect()),
        // join-driven dynamic file pruning: 12 dim keys collected and
        // planted as an InSet on the lake read — bloom-pruned at planning
        new Timed("qR_join_prune", {
          val dim = spark.range(12)
            .select(concat(lit("u"),
              ((col("id") * 831 + 7) % 9973).cast("string")).as("uk"))
          graft.operators.DynamicPrune
            .readSemiFiltered(spark, lakes.flat, "uid", dim, col("uk"))
            .agg(count(lit(1)), sum("c_custkey")).collect()
        }),
        new Timed("qR_metadata_agg", ZLake.read(spark, lakes.windowed)
          .filter(col("win") =!= "3").groupBy(col("win"))
          .agg(count(lit(1)), count(col("phone")),
            min("c_custkey"), max("c_custkey")).collect()),
        new Timed("qR_manifest_sum", ZLake.read(spark, lakes.windowed)
          .filter(col("win") =!= "3").groupBy(col("win"))
          .agg(count(lit(1)), sum("c_custkey"), sum("bal")).collect()),
        new Timed("qR_partition_topk", ZLake.read(spark, lakes.windowed)
          .orderBy(col("win").desc, col("c_custkey")).limit(20).collect()),
        new Timed("qR_sketch_distinct",
          Seq(Seq("win = '0'"), Seq("win = '2'"), Nil).foreach { preds =>
            ZLake.approxDistinct(spark, lakes.windowed, "u", preds)
              .getOrElse(sys.error("sketches missing")).estimate
          }),
        new Timed("qR_time_topk", ZLake.read(spark, lakes.timeLake)
          .orderBy(col("t").desc, col("event_id")).limit(50).collect()),
        // time-travel read: same aggregate as qR_envelope_agg, planned
        // from the pinned snapshot's embedded stats (delta = snapshot tax)
        new Timed("qR_snapshot_agg",
          graft.sources.Snapshots.readSnapshot(spark, lakes.flat, "bench")
            .filter(col("a").between(32, 63) && col("b").between(64, 127))
            .agg(count("*"), sum("a"), sum("b"),
              sum(floor(col("c_acctbal") * 100).cast("long"))).collect()),
        // retrieval SERVING lanes over the pre-built postings index: the
        // bucket-pruned probes the gate proves correct (q174/q180/q181)
        new Timed("qR_bm25_probe",
          graft.operators.Retrieval.searchBm25Index(spark, lakes.bm25Idx,
            Seq("dup", "vector", "spark"), 10).collect()),
        // the same probe against the 4-layer (uncompacted steady-state)
        // twin: pays ≤ MaxLayers directory listings per bucket — the
        // layered-compaction read tax as a number (VERDICT r13 #6)
        new Timed("qR_bm25_probe_chain",
          graft.operators.Retrieval.searchBm25Index(spark, lakes.bm25IdxChain,
            Seq("dup", "vector", "spark"), 10).collect()),
        new Timed("qR_phrase_probe",
          graft.operators.Retrieval.searchPhraseIndex(spark, lakes.bm25Idx,
            Seq("table", "scan"), 10).collect()),
        new Timed("qR_bool_probe",
          graft.operators.Retrieval.searchBooleanIndex(spark, lakes.bm25Idx,
            must = Seq("spark"), should = Seq("vector", "dup"),
            mustNot = Seq("slow"), k = 10).collect()),
        new Timed("qR_hybrid_probe",
          graft.operators.Retrieval.hybridIndexTopK(spark, lakes.bm25Idx,
            lakes.ivfIdx, Seq("dup", "vector", "spark"), lakes.hybridQv,
            k = 20, poolK = 50, nprobe = 2).collect()),
        // more-like-this over the same pre-built index: candidate df
        // probe + selected-term scoring probe, both bucket-pruned (q200)
        new Timed("qR_mlt_probe",
          graft.operators.Retrieval.moreLikeThis(spark, lakes.bm25Idx,
            lakes.mltText, k = 10, excludeDocId = Some(42L),
            maxQueryTerms = 8).collect()),
        // MaxSim serving (r15): per-token IVF probe over the pre-built
        // embeddings index → candidate docs → exact rerank — the ColBERT
        // two-stage path the gate proves correct (q216)
        new Timed("qR_maxsim_probe", {
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val docsMv = emb.select(
            floor(col("vec_id") / 4).cast("long").as("doc"),
            col("vec_id").as("tok"), (col("vec_id") % 4).as("tokpos"),
            col("embedding"))
          graft.operators.Similarity.maxSimTopKIndexed(spark, lakes.ivfIdx,
            docsMv, col("doc"), col("tok"), col("embedding"),
            docsMv.filter(col("doc") < 3), col("doc"), col("tokpos"),
            col("embedding"), k = 5, nprobe = 2, tokK = 8).collect()
          ()
        }),
        // declarative MaxSim (r16): the brute-shape SQL query over the
        // registered token corpus, answered by MaxSimRewrite's two-stage
        // substitution — times the whole planner-served path end-to-end
        new Timed("qR_maxsim_sql", {
          spark.read.parquet(lakes.mvToks)
            .groupBy(col("doc"))
            .agg(graft.functions.KernelAggs.maxsim_q6(
              graft.functions.Functions.vec_quantize(col("embedding"), 1000),
              typedlit(QueriesML.dkMsBag)).as("score_micros"))
            .orderBy(col("score_micros").desc, col("doc"))
            .limit(5).collect()
          ()
        }),
        // lake-served SQ8 rerank (r13): codes-only probe shortlist, then
        // raw vectors point-read from the bloomed primary lake — the
        // serving tail that used to re-scan the corpus
        new Timed("qR_sq8_rerank_lake", {
          val q = ZLake.read(spark, lakes.embLake)
            .filter(col("vec_id") < 5)
          graft.operators.Similarity.ivfSq8RerankTopKLake(spark,
            lakes.sq8Idx, lakes.embLake, "vec_id", "embedding",
            q, col("vec_id"), col("embedding"),
            k = 10, nprobe = 2, mult = 4).collect()
          ()
        }),
        // index maintenance (r13): fresh build → flatten → fragmenting
        // append → SELECTIVE compaction (only hot cells rewrite)
        new Timed("qW_index_compact", {
          val d = freshDir("idxc") + "/idx"
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          graft.operators.Similarity.writeIvfIndex(emb, col("vec_id"),
            col("embedding"), emb.filter(col("vec_id") < 8),
            col("vec_id"), col("embedding"), d)
          graft.operators.Similarity.compactIvfIndex(spark, d)
          graft.operators.Similarity.appendIvfIndex(
            emb.filter(col("vec_id") % 4 === 1)
              .select((col("vec_id") + 1000000).as("vec_id"),
                col("embedding")),
            col("vec_id"), col("embedding"), d)
          graft.operators.Similarity.compactIvfIndex(spark, d)
        }))

    // q68_synth must be warmed before q68_pipeline can run at all, and the
    // lake fixtures before the qR_* lanes — warm-up order is listing order
    // (fixtures are listed before their consumers), and the round-robin
    // passes keep that order too. Under SPARK_GRAFT_BENCH_ONLY a fixture
    // runs only when a surviving lane consumes it.
    val timedAll = timed
    val timedRun = timedAll.filter { t =>
      if (!t.fixture) wanted(t.name)
      else t.name match {
        case "q68_synth" => timedAll.exists(x =>
          !x.fixture && wanted(x.name) && x.name.startsWith("q68_"))
        case "lake_fixtures" => timedAll.exists(x =>
          !x.fixture && wanted(x.name) && x.name.startsWith("qR_"))
        case _ => true
      }
    }
    timedRun.foreach(_.warmUp())
    (1 to passes).foreach(_ => timedRun.foreach(_.run()))

    val runRecall = only.forall(_.exists("recall".startsWith(_)))
    val (recall, recallFailed) =
      try (if (runRecall) ivfPqRecall(spark, sfDir, None) else 0.0, false)
      catch { case _: Throwable => (0.0, true) }
    // exact-rerank lane (ivfPqRerankTopK, k*8 candidates re-scored with
    // exact cosine): the number production would ship — the ADC-only lane
    // above stays for round-over-round continuity
    val (recallRr, recallRrFailed) =
      try (if (runRecall) ivfPqRecall(spark, sfDir, Some(8)) else 0.0, false)
      catch { case _: Throwable => (0.0, true) }
    // SQ8 at the same shape (8 seed cells, nprobe=2, L2): the 4×
    // compression's recall, next to PQ's 32× — the artifact shows what
    // each compression tier costs in quality
    val (recallSq8, recallSq8Failed) =
      try (if (runRecall) ivfSq8Recall(spark, sfDir) else 0.0, false)
      catch { case _: Throwable => (0.0, true) }

    val results = timedRun.filterNot(_.fixture)
    val fixtures = timedRun.filter(_.fixture)
    def jnum(d: Double): String = // ms precision, '.' regardless of locale
      if (d.isNaN) "null" // failed-retry placeholder slots (ADVICE r15)
      else "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // summary entries are 10-ms precision: the driver keeps only the LAST
    // ~2000 stdout chars, and at 3 decimals the 60+-lane summary line
    // already brushed that window in r13 — full 3-decimal arrays live on
    // the detail line and in BENCH_DETAIL.json
    def jq(d: Double): String =
      "%.2f".formatLocal(java.util.Locale.ROOT, d)
    def entries(rs: Seq[Timed]): String =
      rs.map { t =>
        "\"" + t.name + "\":" + (if (t.failed) "null" else jq(t.wall.min))
      }.mkString(",")
    def arrays(f: Timed => Seq[Double]): String =
      timedRun.map(t => "\"" + t.name + "\":" + f(t).map(jnum).mkString("[", ",", "]"))
        .mkString("{", ",", "}")
    val failedArr = (timedRun.collect { case t if t.failed => "\"" + t.name + "\"" } ++
      (if (recallFailed) Seq("\"recall\"") else Nil) ++
      (if (recallRrFailed) Seq("\"recall_rerank\"") else Nil) ++
      (if (recallSq8Failed) Seq("\"recall_sq8\"") else Nil))
      .mkString("[", ",", "]")
    val total = results.collect { case t if !t.failed => t.wall.min }.sum
    // ---- per-lane regression floors (r10 verdict #1): BENCH_FLOORS.json
    // maps lane → max allowed best-of-N seconds at sf0.1 (seeded from the
    // r9/r10 quiet-host numbers × headroom). The bench artifact is the
    // engine's only perf gate, and it silently absorbed q30's 57% move in
    // r10 — a breach must fail LOUD: it lands in the summary's
    // "floor_breaches" AND flips the exit code. Only enforced at the
    // driver's sf0.1 operating point (other SFs have no seeded numbers).
    val (floors, canary): (Map[String, Double], Option[(String, Double)]) =
      try {
        val p = java.nio.file.Paths.get("BENCH_FLOORS.json")
        if (!sfDir.contains("sf0.1") || !java.nio.file.Files.exists(p))
          (Map.empty, None)
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(java.nio.file.Files.readAllBytes(p))
          import scala.jdk.CollectionConverters._
          val fl = node.path("floors").fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap
          val cn = node.path("canary")
          val c = if (cn.isMissingNode) None
            else Some((cn.path("lane").asText, cn.path("best").asDouble))
          (fl, c)
        }
      } catch { case scala.util.control.NonFatal(_) => (Map.empty, None) }
    val bestByLane = results.collect {
      case t if !t.failed => t.name -> t.wall.min
    }.toMap
    val runsByLane = results.collect {
      case t if !t.failed => t.name -> t.wall.toSeq
    }.toMap
    // per-pass weather normalization (VERDICT r14 #3b): each lane run is
    // discounted by its own pass's canary factor before meeting the floor
    val (passFactors, mainBreaches) =
      floorBreachesPerPass(runsByLane, floors, canary)
    // raw (uncapped) canary ratios + host load: the uniform-slowdown
    // discriminators the capped factors cannot see (ADVICE r12)
    val canaryRatios = canary.toSeq.flatMap { case (lane, committed) =>
      if (committed > 0) runsByLane.getOrElse(lane, Nil).map(_ / committed)
      else Nil
    }
    val rawCanaryRatio = canary.flatMap { case (lane, committed) =>
      bestByLane.get(lane).filter(_ => committed > 0).map(_ / committed)
    }.getOrElse(1.0)
    def loadPerCoreNow(): Double = {
      val l = osBean.getSystemLoadAverage
      if (l < 0) -1.0 else l / math.max(1, Runtime.getRuntime.availableProcessors)
    }
    val loadPerCore = loadPerCoreNow()
    val canaryBrMain = canaryBreach(canaryRatios, loadPerCore)
    // ---- solo retry (VERDICT r14 #3a): a breach must survive a SECOND
    // best-of-N window, run after the main bench with only the canary and
    // the breached lanes in play — a host storm wide enough to swallow
    // the whole main window AND the retry is the only false positive
    // left. Retry runs are never billed into totals or lane numbers; they
    // exist solely to confirm or acquit the breach.
    val needRetry = mainBreaches.nonEmpty || canaryBrMain.nonEmpty
    val retryLanes: Seq[Timed] =
      if (!needRetry) Nil
      else results.filter(t =>
        mainBreaches.contains(t.name) || canary.exists(_._1 == t.name))
    if (needRetry) {
      System.err.println(s"bench: retrying breached lanes solo: " +
        retryLanes.map(_.name).mkString(", "))
      (1 to passes).foreach(_ => retryLanes.foreach(_.runRetry()))
    }
    val retryRuns: Map[String, Seq[Double]] = retryLanes
      .filter(_.wallRetry.exists(d => !d.isNaN))
      .map(t => t.name -> t.wallRetry.toSeq).toMap
    val (retryFactors, retryBreachesAll) =
      floorBreachesPerPass(retryRuns, floors, canary)
    // a lane breach stands only if BOTH windows breach (a retry run that
    // failed outright keeps the main verdict — no silent acquittal)
    val breachMap: Map[String, (Double, Double)] = mainBreaches.collect {
      case (n, mainBr) if !needRetry => n -> mainBr
      case (n, mainBr) if retryRuns.contains(n) && retryBreachesAll.contains(n) =>
        n -> retryBreachesAll(n)
      case (n, mainBr) if !retryRuns.contains(n) => n -> mainBr
    }
    val retryCanaryRatios = canary.toSeq.flatMap { case (lane, committed) =>
      if (committed > 0) retryRuns.getOrElse(lane, Nil)
        .filter(d => !d.isNaN).map(_ / committed)
      else Nil
    }
    // the quiet-host alarm too must survive its retry (fresh ratios AND a
    // fresh load reading — r14's judge-side false fire came from a single
    // mildly-loaded window)
    val canaryBr = canaryBrMain.flatMap { _ =>
      if (retryCanaryRatios.isEmpty) canaryBrMain
      else canaryBreach(retryCanaryRatios, loadPerCoreNow())
    }
    val breaches = breachMap.toSeq.sortBy(_._1).map {
      case (n, (b, m)) =>
        s""""$n":{"best":${jnum(b)},"max":${jnum(m)}}"""
    } ++ canaryBr.map { case (r, mx) =>
      s""""__canary__":{"best":${jnum(r)},"max":${jnum(mx)}}"""
    }
    val breachesJson = breaches.mkString("{", ",", "}")
    val hostFactor =
      if (passFactors.isEmpty) 1.0 else passFactors.min
    // total TASK cpu (best run per lane): the one-number uniform-slowdown
    // discriminator — wall drifting while task_cpu_total holds says host
    // weather / scheduling, task cpu moving with wall says the engine
    val taskCpuTotal = results.collect {
      case t if !t.failed && t.tcpu.nonEmpty => t.tcpu.min
    }.sum
    // per-pass weather factors + (when a retry ran) the retry evidence:
    // the adjudication trail the r14 verdict had to reconstruct from raw
    // arrays lives in the artifact itself now
    val passFactorsJson = passFactors.map(jq).mkString("[", ",", "]")
    // clamp-saturation evidence (VERDICT r15 #6): BENCH_r15's pass 3 hit
    // the 3.0 cap — flag such passes so a real 4× regression inside a
    // 3×-storm window reads as "clamped pass" in the artifact, not noise
    val passClampedJson = clampSaturated(canaryRatios)
      .map(_.toString).mkString("[", ",", "]")
    val retryJson =
      if (!needRetry) ""
      else {
        val lanes = retryRuns.toSeq.sortBy(_._1).map { case (n, rs) =>
          "\"" + n + "\":" + rs.map(jnum).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        val clamped = clampSaturated(retryCanaryRatios)
          .map(_.toString).mkString("[", ",", "]")
        s""","retry":{"lanes":$lanes,"pass_factors":${retryFactors.map(jq).mkString("[", ",", "]")},"pass_clamped":$clamped}"""
      }
    // detail first, compact summary LAST: the driver keeps the tail
    val summary = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":{${entries(results)}},"fixtures":{${entries(fixtures)}},"recall_ivfpq_at10":${jnum(recall)},"recall_ivfpq_rerank_at10":${jnum(recallRr)},"recall_ivfsq8_at10":${jnum(recallSq8)},"failed":$failedArr,"host_factor":${jnum(hostFactor)},"canary_ratio":${jnum(rawCanaryRatio)},"pass_factors":$passFactorsJson,"pass_clamped":$passClampedJson,"load_per_core":${jnum(loadPerCore)},"task_cpu_total":${jnum(taskCpuTotal)},"floor_breaches":$breachesJson$retryJson,"sf":"$sfDir"}"""
    val detail = s"""{"detail":{"runs":${arrays(_.wall.toSeq)},"cpu":${arrays(_.cpu.toSeq)},"gc":${arrays(_.gc.toSeq)},"jit":${arrays(_.jit.toSeq)},"task_cpu":${arrays(_.tcpu.toSeq)}}}"""
    println(detail)
    println(summary)
    // ... and the summary as a FILE (r9 verdict #4): sbt's `[info] `
    // decoration and the driver's capture window have twice corrupted the
    // stdout lane ("parsed": null); a committed file survives both. A
    // SPARK_GRAFT_BENCH_ONLY-filtered run is an investigation, not the
    // artifact — it must not overwrite the full run's summary.
    if (only.isEmpty)
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_SUMMARY.json"),
          (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // full per-run arrays (wall/cpu/gc/jit/task-cpu): the stdout
        // detail line is truncated by the driver's 2000-char capture
        // window, so round-over-round drift adjudication reads this file
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_DETAIL.json"),
          (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      catch { case _: java.io.IOException => () } // read-only cwd: stdout stands
    spark.stop()
    if (breaches.nonEmpty) {
      System.err.println(s"bench floors breached: $breachesJson")
      sys.exit(1)
    }
  }
}
