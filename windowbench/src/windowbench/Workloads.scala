package windowbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.dns.BatchRunner
import graft.sinks.Sinks
import graft.sources.ZLake
import graft.streaming.StreamRunner

/** Set-up shared by the workloads. `setup_s` is the session start plus
  * the program-side set-up of the workload: starting the query and letting
  * a warm-up window through it (a cold JVM pays JIT and code generation
  * there), or writing the dashboard lake. Generating inputs is not part of
  * it. */
object Setup {
  /** Warm-up windows are numbered from here, apart from measured ones. */
  val WarmId = 1000
  def dims(env: Env): Unit = env.gen.writeDims(env.spark, env.dimsDir)
}

/** `stream_trickle`: an open loop. A generator thread publishes one small
  * window file per period into the source directory (atomic rename), on a
  * schedule that does not wait for the query; a final burst of queued
  * windows measures the drain rate. The query is the production streaming
  * chain: `rawStream(maxFilesPerTrigger = 1)` → `reportEvery("0 seconds")`
  * → `BatchRunner.run` → `lakeWrite`, the window start derived from the
  * batch's own timestamps. */
final class StreamTrickle(env: Env) {
  import StreamTrickle._
  private val spark = env.spark

  def run(): Outcome = {
    val steady = (env.args.seconds / PeriodS).toInt + 1
    val total = steady + Burst
    val staging = env.work.resolve("staging")
    val (inputs, genS) = env.timed {
      Gen.parallel(2)(Seq(() => { Setup.dims(env); Nil },
        () => env.genWindows(staging, 2, 0 until total, Lines) ++
          env.genWindows(staging, 9, Seq(Setup.WarmId), Lines))).flatten
    }
    val inDir = env.work.resolve("in"); Files.createDirectories(inDir)
    val root = env.work.resolve("lake").toString
    val ckpt = env.work.resolve("ckpt").toString

    // per window: due, published, committed (nanoTime); per epoch: body and trigger time
    val due = new Array[Long](total)
    val published = new Array[Long](total)
    val committed = new ConcurrentHashMap[Int, Long]() // every window, warm-up too
    val epochWindow = new ConcurrentHashMap[Long, Int]()
    val bodyS = new ConcurrentHashMap[Long, Double]()
    val triggerS = new ConcurrentHashMap[Long, Double]()
    val tracedBody = mutable.ArrayBuffer[(Boolean, Double)]()
    val obs = new ConcurrentHashMap[Int, Chain.Obs]()
    val failed = mutable.Set[Int]()
    @volatile var publishedN = 0
    @volatile var backlogMax = 0

    val progress = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = System.nanoTime()
        val p = e.progress
        Option(epochWindow.get(p.batchId)).foreach { w =>
          committed.putIfAbsent(w, now)
          Option(p.durationMs.get("triggerExecution")).foreach(d => triggerS.put(p.batchId, d / 1e3))
        }
        backlogMax = math.max(backlogMax,
          publishedN - (0 until total).count(committed.containsKey))
      }
    }
    spark.streams.addListener(progress)

    val writer = StreamRunner.reportEvery(
        StreamRunner.rawStream(spark, inDir.toString, maxFilesPerTrigger = 1),
        "0 seconds", ckpt) { (batch, id) =>
      val t = System.nanoTime()
      // the batch's window: the median event time, floored to 5 minutes
      // (robust to the few out-of-window lines on either side)
      val mid = batch.select(percentile_approx(
        get_json_object(col("value"), "$.Timestamp").cast("long"), lit(0.5), lit(1000)))
        .head().getLong(0)
      val ws = mid / Gen.WindowMs * Gen.WindowMs
      val w = ((ws - Gen.Epoch0) / Gen.WindowMs).toInt
      val traced = env.tracer.enabled && w < total && w % 2 == 0
      val o = Chain.run(env, batch, ws, w, root, traced)
      obs.put(w, o)
      epochWindow.put(id, w)
      val s = (System.nanoTime() - t) / 1e9
      bodyS.put(id, s)
      if (w < total) tracedBody.synchronized(tracedBody += ((traced, s)))
    }
    def publish(f: Path): Unit =
      Files.move(f, inDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    // set-up: start the query and let the warm-up window through it
    val (query, warmS) = env.timed {
      val q = writer.start()
      publish(inputs.last._1)
      val deadline = System.nanoTime() + (Timeout * 1e9).toLong
      while (!committed.containsKey(Setup.WarmId) && q.exception.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(5)
      q
    }
    val setupS = env.sessionS + warmS

    env.resetHeapPeak()
    val gc0 = env.gcSeconds
    val start = System.nanoTime() + 200000000L
    val publisher = new Thread(() => {
      for (i <- 0 until total) {
        if (i < steady) {
          due(i) = start + (i * PeriodS * 1e9).toLong
          val wait = due(i) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        } else {
          // the burst follows once the last steady window is committed, at
          // the latest one period after that window was due
          val latest = start + (steady * PeriodS * 1e9).toLong
          while (!committed.containsKey(steady - 1) && System.nanoTime() < latest) Thread.sleep(5)
          due(i) = if (i == steady) System.nanoTime() else due(steady)
        }
        publish(inputs(i)._1)
        published(i) = System.nanoTime()
        publishedN = i + 1
      }
    }, "windowbench-publisher")
    publisher.start()
    publisher.join()
    val deadline = System.nanoTime() + (Timeout * 1e9).toLong
    while ((0 until total).exists(!committed.containsKey(_)) && System.nanoTime() < deadline &&
      query.exception.isEmpty)
      Thread.sleep(10)
    query.stop()
    spark.streams.removeListener(progress)
    val peak = env.peakHeapMb
    val gcS = env.gcSeconds - gc0
    env.tracer.quiesce()

    (0 until total).filterNot(committed.containsKey).foreach(failed += _)
    failed ++= Chain.unreconciled(env.tracer, "window").filter(_ < total)
    failed ++= Check(spark, root, inputs.map(_._2).filterNot(t => failed(t.window)))
      .filter(_ < total)

    val lat = (0 until steady).filter(committed.containsKey)
      .map(i => (committed.get(i) - due(i)) / 1e9)
    val missed = (0 until steady).count(i =>
      !committed.containsKey(i) || committed.get(i) > due(i) + (PeriodS * 1e9).toLong)
    val burstCommits = (steady until total).filter(committed.containsKey).map(committed.get(_))
    val drainWps =
      if (burstCommits.size < Burst) 0.0
      else Burst / ((burstCommits.max - published(steady)) / 1e9)
    val untracedIds = epochWindow.asScala.toSeq.filter(e => e._2 < total &&
      !(env.tracer.enabled && e._2 % 2 == 0))
    val cpu = untracedIds.map(e => env.tracer.listener.work(s"win-${e._2}").cpuNs.get / 1e9)
    val overhead = epochWindow.asScala.toSeq.filter(_._2 < total).flatMap { case (b, _) =>
      Option(triggerS.get(b)).map(_ - bodyS.get(b)) }
    val lagMax = (0 until total).map(i => (published(i) - due(i)) / 1e9).max
    val (tailV, tailU) = Stats.fmtTail(lat, 1.0, "s")
    val traced = tracedBody.filter(_._1).map(_._2).toSeq
    val untracedB = tracedBody.filterNot(_._1).map(_._2).toSeq
    val layers = Chain.layers(env, obs.asScala.toMap) ++ Seq(
      "stream.epoch_overhead_s" -> Stats.median(overhead),
      "stream.backlog_max" -> backlogMax.toDouble,
      "stream.epochs" -> epochWindow.asScala.values.count(_ < total).toDouble,
      "gen.lag_max_s" -> lagMax,
      "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peak) ++
      (if (traced.nonEmpty && untracedB.nonEmpty)
        Seq("trace.overhead_s" -> (Stats.median(traced) - Stats.median(untracedB))) else Nil)
    Outcome(total, failed.size,
      e2e = Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.median(lat) * 1000, "ms"),
        ("throughput_per_s", drainWps, "1/s"),
        ("task_cpu_per_op_ms", Stats.mean(cpu) * 1000, "ms")),
      named = Seq(
        ("setup_s", setupS.toString, "s (session start, query start and a warm-up window)"),
        ("gen_s", genS.toString, "s (input generation, not part of set-up)"),
        ("stream_latency_p50_s", Stats.median(lat).toString,
          s"s (${lat.size} windows due every $PeriodS s, $Lines lines each)"),
        ("stream_latency_tail_s", tailV, tailU),
        ("stream_deadline_miss_ratio", (missed.toDouble / steady).toString, s"ratio ($missed of $steady)"),
        ("stream_drain_wps", drainWps.toString, s"windows/s (burst of $Burst)"),
        ("task_cpu_per_window_s", Stats.mean(cpu).toString, "s"),
        ("peak_heap_mb", peak.toString, "MB (largest heap in use after a GC)")),
      layers = layers,
      traceExtra = Chain.selfByLayer(env.tracer).map { case (k, v) => s"self_s.$k" -> f"$v%.6f" } ++
        layers.toSeq.sortBy(_._1).map { case (k, v) => s"metric.$k" -> v.toString })
  }
}

object StreamTrickle {
  val Lines = 10000
  /** Seconds between window files in the steady phase (below capacity).
    * The steady phase's schedule spans `--seconds`: windows are due at 0,
    * PeriodS, ... up to `--seconds`; the burst of [[Burst]] windows is
    * published at once after it. */
  val PeriodS = 10.0
  val Burst = 2
  /** Seconds allowed for the warm-up window, and after the last
    * publication for the backlog to drain. */
  val Timeout = 60.0
}

/** `lake_dashboard`: a closed loop with one client issuing a seeded mix of
  * dashboard reads through `ZLake.read` over a lake of several windows.
  * Set-up writes the lake with the program itself: a generated window goes
  * through `BatchRunner.run` → `Sinks.lakeWrite` → unpersist, its six
  * reports committed under every window stamp of the lake (the
  * `accesstime` column rewritten), so schemas, rows and files per window
  * are the program's. Every answer must equal the same query over plain
  * `spark.read.parquet`, computed once in set-up. */
final class LakeDashboard(env: Env) {
  import LakeDashboard._
  private val spark = env.spark

  private def queries(wins: IndexedSeq[String]): IndexedSeq[Query] = {
    val qps = (0 to 5).map(c => Query(s"qps_series[$c]", r =>
      r("clear").filter(col("clientName") === c)
        .select("win", "sampleNum", "errorNum").orderBy("win")))
    val spans = (0 until 6).map { i =>
      val a = wins(i % 3); val b = wins(math.min(wins.size - 1, i % 3 + 2 + i / 3))
      Query(s"trend_top[$a..$b]", r =>
        r("trend").filter(col("win").between(a, b))
          .groupBy("domain").agg(sum("resolver").as("resolver"))
          .orderBy(col("resolver").desc, col("domain")).limit(20))
    }
    val codes = Seq(0, 2, 3)
    val perCode = (0 until 6).map { i =>
      val w = wins((i * 5) % wins.size); val c = codes(i % codes.size)
      Query(s"code_top[$w,$c]", r =>
        r("per_code_top").filter(col("win") === w && col("clientName") === 0 &&
          col("responseCode") === c)
          .select("domain", "cnt", "rn").orderBy("rn").limit(20))
    }
    val users = (0 until 4).map { i =>
      val w = wins((i + 1) % wins.size)
      Query(s"top_users[$w]", r =>
        r("top_users").filter(col("win") === w)
          .select("clientIp", "domain", "aip", "resolver", "error")
          .orderBy(col("resolver").desc, col("clientIp"), col("domain"), col("aip")).limit(20))
    }
    val ratio = Seq("code", "request").map { k =>
      Query(s"ratio_series[$k]", r =>
        r("ratios").filter(col("kind") === k && col("clientName") === 0)
          .select("win", "requestType", "sampleNum").orderBy("win", "requestType"))
    }
    (qps ++ spans ++ perCode ++ users ++ ratio).toIndexedSeq
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.mkString("|"))

  /** Every window of the lake holds the reports of one generated window,
    * stamped as that window: one `BatchRunner.run`, its reports computed
    * once, one `lakeWrite` per stamp, then unpersist. */
  private def writeLake(file: Path, tally: Tally, root: String): Unit = {
    val rs = BatchRunner.run(spark, spark.read.text(file.toString), env.loadDims(), tally.startMs)
    try {
      val reports = rs.all.map { case (n, df) => n -> Chain.materialize(df) }
      (0 until Windows).foreach { w =>
        val stamp = lit(new java.sql.Timestamp(Gen.Epoch0 + w * Gen.WindowMs))
        Sinks.lakeWrite(reports.map { case (n, df) => n -> df.withColumn("accesstime", stamp) }, root)
      }
    } finally rs.unpersist()
  }

  def run(): Outcome = {
    val root = env.work.resolve("lake").toString
    val ((file, tally), genS) = env.timed {
      Gen.parallel(2)(Seq(() => { Setup.dims(env); Nil },
        () => env.genWindows(env.work.resolve("staging"), 3, Seq(0), Lines))).flatten.head
    }
    val setupS = env.sessionS + env.timed(writeLake(file, tally, root))._2
    // the lake must hold every window's six tables as the tally says
    val lakeBad = Check(spark, root, (0 until Windows).map { w =>
      tally.copy(window = w, startMs = Gen.Epoch0 + w * Gen.WindowMs)
    })
    if (lakeBad.nonEmpty) System.err.println(s"lake windows with wrong tables: ${lakeBad.toSeq.sorted}")
    val (qs, refS) = env.timed {
      val qs = queries((0 until Windows).map(w => Chain.win(Gen.Epoch0 + w * Gen.WindowMs)))
      Gen.parallel(4)(qs.map(q => () => q -> canon(q.run(t => spark.read.parquet(s"$root/$t")).collect())))
    }
    // the mix: rounds of every distinct query once, each round in a seeded
    // order; as many whole rounds as fit in --seconds, at least two. The
    // first round warms up: its answers are checked, its times and CPU are
    // not in the figures
    val rng = new scala.util.Random(env.args.seed * 7919L + 5)
    val warm = qs.size
    var round = List.empty[Int]
    var roundStart = 0L
    var lastRoundNs = 0L
    var measured0 = 0L

    env.resetHeapPeak()
    val gc0 = env.gcSeconds
    val lat = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val perQuery = mutable.ArrayBuffer[Map[String, Double]]()
    val failed = mutable.Set[Int]()
    var n = 0
    val loop0 = System.nanoTime()
    def another = n < 2 * warm ||
      (System.nanoTime() - loop0 + lastRoundNs) / 1e9 <= env.args.seconds
    while (round.nonEmpty || another) {
      if (round.isEmpty) {
        roundStart = System.nanoTime()
        round = rng.shuffle(qs.indices.toList)
      }
      val (q, want) = qs(round.head)
      round = round.tail
      val traced = env.tracer.enabled && n % 2 == 0
      val id = n
      val footers0 = ZLake.footerOpens.get
      val t0 = System.nanoTime()
      val ok = try {
        if (!traced) env.tracer.group(s"q-$id") {
          canon(q.run(t => ZLake.read(spark, s"$root/$t")).collect()) == want
        } else {
          val (df, rows) = env.tracer.span("lake.query", id) {
            val df = env.tracer.span("lake.plan", id) {
              val d = q.run(t => ZLake.read(spark, s"$root/$t")); d.queryExecution.executedPlan; d
            }
            (df, env.tracer.span("lake.exec", id)(df.collect()))
          }
          val scans = Plans.scans(df.queryExecution.executedPlan)
          val read = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
          val total = scans.map(_.relation.location.inputFiles.length.toLong).sum
          perQuery += Map("lake.files_read" -> read.toDouble, "lake.files_total" -> total.toDouble,
            "lake.prune_ratio" -> (if (total == 0) 0.0 else 1.0 - read.toDouble / total),
            "lake.footer_opens" -> (ZLake.footerOpens.get - footers0).toDouble,
            "query.id" -> id.toDouble)
          canon(rows) == want
        }
      } catch { case e: Exception => System.err.println(s"query ${q.name} failed: $e"); false }
      lat += ((id, traced, (System.nanoTime() - t0) / 1e9))
      if (!ok) failed += id
      n += 1
      if (round.isEmpty) {
        lastRoundNs = System.nanoTime() - roundStart
        if (n == warm) measured0 = System.nanoTime()
      }
    }
    val measuredN = n - warm
    val loopS = (System.nanoTime() - measured0) / 1e9
    val peak = env.peakHeapMb
    val gcS = env.gcSeconds - gc0
    env.tracer.quiesce()
    // a traced query its spans do not account for is a failed query, and
    // every answer over a wrong lake is wrong
    failed ++= Chain.unreconciled(env.tracer, "lake.query")
    if (lakeBad.nonEmpty) failed ++= 0 until n

    def latencies(traced: Boolean) = lat.collect { case (i, t, s) if i >= warm && t == traced => s }.toSeq
    val untraced = latencies(traced = false)
    val cpu = (warm until n).filterNot(i => env.tracer.enabled && i % 2 == 0)
      .map(i => env.tracer.listener.work(s"q-$i").cpuNs.get / 1e9)
    val layers: Map[String, Double] = if (!env.tracer.enabled) Map.empty else {
      val t = env.tracer
      val spans = t.spans
      val roots = spans.filter(_.name == "lake.query")
      def phase(n: String) = roots.filter(_.window >= warm)
        .flatMap(r => spans.find(s => s.parent == r.id && s.name == n))
      val firsts = roots.sortBy(_.window).take(WorkQueries)
      val w = new Work; firsts.foreach(r => w.add(t.workOf(r)))
      val qm = perQuery.toSeq
      def med(k: String) = Stats.median(qm.map(_(k)))
      val tracedLat = latencies(traced = true)
      Map(
        "lake.plan_ms" -> Stats.median(phase("lake.plan").map(_.wallS)) * 1000,
        "lake.exec_ms" -> Stats.median(phase("lake.exec").map(_.wallS)) * 1000,
        "lake.files_read" -> med("lake.files_read"), "lake.files_total" -> med("lake.files_total"),
        "lake.prune_ratio" -> med("lake.prune_ratio"), "lake.footer_opens" -> med("lake.footer_opens"),
        "lake.read_mb" -> Stats.median(roots.map(r => t.workOf(r).inputBytes.get / 1e6)),
        "work.jobs" -> w.jobs.get.toDouble, "work.stages" -> w.stages.get.toDouble,
        "work.tasks" -> w.tasks.get.toDouble, "work.shuffle_mb" -> w.shuffleMb,
        "work.input_mb" -> w.inputBytes.get / 1e6,
        "trace.unattributed_ratio" -> Stats.median(roots.map(r => t.selfS(r) / r.wallS)),
        "trace.overhead_s" -> (Stats.median(tracedLat) - Stats.median(untraced)))
    }
    val (tailV, tailU) = Stats.fmtTail(untraced, 1000.0, "ms")
    Outcome(n, failed.size,
      e2e = Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.median(untraced) * 1000, "ms"),
        ("throughput_per_s", measuredN / loopS, "1/s"),
        ("task_cpu_per_op_ms", Stats.mean(cpu) * 1000, "ms")),
      named = Seq(
        ("setup_s", setupS.toString,
          s"s (session start and writing the $Windows-window lake from a window of $Lines lines)"),
        ("gen_s", (genS + refS).toString, "s (inputs and reference answers, not part of set-up)"),
        ("query_p50_ms", (Stats.median(untraced) * 1000).toString, s"ms (${untraced.size} untraced queries, ${qs.size} distinct)"),
        ("query_tail_ms", tailV, tailU),
        ("queries_per_s", (measuredN / loopS).toString, s"1/s ($measuredN queries after a warm-up round)"),
        ("task_cpu_per_query_s", Stats.mean(cpu).toString, "s"),
        ("peak_heap_mb", peak.toString, "MB (largest heap in use after a GC)")),
      layers = layers ++ Map("jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peak),
      traceExtra = layers.toSeq.sortBy(_._1).map { case (k, v) => s"metric.$k" -> v.toString })
  }
}

object LakeDashboard {
  /** A dashboard query over a table reader. */
  final case class Query(name: String, run: (String => DataFrame) => DataFrame)
  val Windows = 6
  /** Lines of the generated window every lake window is stamped from. */
  val Lines = 20000
  /** Work counts are summed over this many first traced queries. */
  val WorkQueries = 10
}

object Plans {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  /** The file scans of an executed plan, through adaptive wrappers. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans)
  }
}
