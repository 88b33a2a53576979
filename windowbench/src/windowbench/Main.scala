package windowbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.dns.{BatchRunner, Ingest}
import graft.sinks.Sinks

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cpus <n> [--trace-out <file>]`. Generated inputs, the
  * lake and Spark's scratch space all live under `--work`. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, cpus: Int, traceOut: Option[Path])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), need("cpus").toInt,
      m.get("trace-out").map(Paths.get(_)))
  }
}

/** What a workload measured: the generic end-to-end set that every workload
  * reports, its own named metrics (printed, not in the result line), and
  * the per-layer set. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Seq[(String, Double, String)],
                         named: Seq[(String, String, String)],
                         layers: Map[String, Double],
                         traceExtra: Seq[(String, String)] = Nil)

object Main {
  val Workloads = Seq("stream_trickle", "lake_dashboard")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(args.cpus.toString)
      .appName("windowbench")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val listener = new WorkListener
      spark.sparkContext.addSparkListener(listener)
      val env = new Env(spark, new Tracer(spark.sparkContext, listener, args.trace),
        args, new Gen(args.seed), (System.nanoTime() - t0) / 1e9)
      val out = args.workload match {
        case "stream_trickle" => new StreamTrickle(env).run()
        case "lake_dashboard" => new LakeDashboard(env).run()
      }
      report(args, env, out)
    } finally spark.stop()
  }

  private def report(args: Args, env: Env, o: Outcome): Unit = {
    println(s"windowbench ${args.workload} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} session=local[${args.cpus}]")
    o.named.foreach { case (k, v, u) => println(f"  $k%-28s $v $u") }
    println(f"  ${"failed_ratio"}%-28s ${if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted} ratio" +
      s" (${o.failed} of ${o.attempted})")
    val metrics =
      if (!args.trace) o.e2e
      else Layers.All.map { case (k, u) => (k, o.layers.getOrElse(k, 0.0), u) }
    if (args.trace) {
      Layers.All.foreach { case (k, u) => println(f"  $k%-28s ${o.layers.getOrElse(k, 0.0)} $u") }
      args.traceOut.foreach { p =>
        Files.createDirectories(p.getParent)
        Files.write(p, env.tracer.toJson(
          Seq("workload" -> s"\"${args.workload}\"", "seed" -> args.seed.toString) ++
            o.traceExtra).getBytes("UTF-8"))
        println(s"  trace written to ${p.getFileName}")
      }
    }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${o.failed == 0 && o.attempted > 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}

/** Per-layer metric names and units, in output order. */
object Layers {
  val Reports = Seq("clear", "trend", "top_detail", "ratios", "per_code_top", "top_users")
  val All: Seq[(String, String)] = Seq(
    "dims.open_s" -> "s",
    "ingest.wall_s" -> "s", "ingest.task_cpu_s" -> "s", "ingest.lines_in" -> "count",
    "ingest.rows_kept" -> "count", "ingest.keep_ratio" -> "ratio", "ingest.jobs" -> "count",
    "compose.wall_s" -> "s", "compose.jobs" -> "count",
    "facts.wall_s" -> "s", "facts.rows" -> "count", "facts.cached_mb" -> "MB",
    "enrich.self_s" -> "s") ++
    Reports.flatMap(t => Seq(s"report.$t.wall_s" -> "s", s"report.$t.task_cpu_s" -> "s",
      s"report.$t.shuffle_mb" -> "MB", s"report.$t.rows" -> "count")) ++ Seq(
    "sink.wall_s" -> "s", "sink.jobs" -> "count", "sink.files" -> "count", "sink.mb" -> "MB",
    "stream.epoch_overhead_s" -> "s", "stream.backlog_max" -> "count",
    "stream.epochs" -> "count", "gen.lag_max_s" -> "s",
    "lake.plan_ms" -> "ms", "lake.exec_ms" -> "ms", "lake.files_read" -> "count",
    "lake.files_total" -> "count", "lake.prune_ratio" -> "ratio", "lake.read_mb" -> "MB",
    "lake.footer_opens" -> "count",
    "work.jobs" -> "count", "work.stages" -> "count", "work.tasks" -> "count",
    "work.shuffle_mb" -> "MB", "work.input_mb" -> "MB", "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "trace.unattributed_ratio" -> "ratio", "trace.overhead_s" -> "s")
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
  /** The highest of the usual percentiles with at least 10 samples beyond
    * it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10 - 1e-9)
      .map(p => (p, pct(xs, p)))
  def fmtTail(xs: Seq[Double], scale: Double, unit: String): (String, String) =
    tail(xs) match {
      case Some((p, v)) => (s"${v * scale}", s"$unit (p$p of ${xs.size})")
      case None => ("n/a", s"$unit (${xs.size} samples, need 20)")
    }
}

/** Shared state of one run. */
final class Env(val spark: SparkSession, val tracer: Tracer, val args: Args,
                val gen: Gen, val sessionS: Double) {
  val work: Path = args.work
  val dimsDir: Path = work.resolve("dims")
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** The dimension tables, read from parquet (every window does this, as
    * the reference re-reads its dimension store per window). */
  def loadDims(): BatchRunner.DimTables = {
    def p(n: String) = spark.read.parquet(dimsDir.resolve(n).toString)
    BatchRunner.DimTables(p("client_rules"), p("business_rules"), p("media_rules"),
      p("auth_domains"), p("whitelist"), p("users"), p("user_info"), p("geo"))
  }

  /** Writes windows `ids` of random stream `stream`, `lines` lines each,
    * under `dir`, with a tally file next to each. */
  def genWindows(dir: Path, stream: Long, ids: Seq[Int], lines: Int): Seq[(Path, Tally)] = {
    Files.createDirectories(dir)
    Gen.parallel(4)(ids.map { w => () =>
      val f = dir.resolve(f"w$w%05d.json")
      val t = gen.window(w, stream, Gen.Epoch0 + w * Gen.WindowMs, lines, f)
      Files.write(dir.resolve(f"w$w%05d.tally.json"), t.toJson.getBytes("UTF-8"))
      (f, t)
    })
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  // heap in use right after each collection: its high-water mark tracks
  // the data the run keeps alive, not how far garbage piled up before a GC
  private val heapNames = heapPools.map(_.getName).toSet
  private val afterGcPeak = new java.util.concurrent.atomic.AtomicLong
  gcs.foreach { gc =>
    gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapNames(k) => u.getUsed }.sum
          afterGcPeak.accumulateAndGet(used, math.max)
        }
      }, null, null)
  }
  def resetHeapPeak(): Unit = afterGcPeak.set(0)
  /** Largest heap in use after a collection since [[resetHeapPeak]]. */
  def peakHeapMb: Double = afterGcPeak.get / 1e6
  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** One window through the production composition
  * (`BatchRunner.run` → `Sinks.lakeWrite(rs.all, root)` → `rs.unpersist()`).
  * A traced window additionally runs `Ingest.clean` standalone, materializes
  * the fact set and each report on its own (so the sink span holds only the
  * write), and records a span per call. */
object Chain {
  /** Computes `df` once and returns a DataFrame over the result, split
    * into the partitions the executed plan ended with. (A persisted
    * DataFrame keeps the plan's unadapted shuffle partitions and so would
    * be written as more files than the sink writes from the plan itself.) */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  val WinFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern(Sinks.WinFormat)
      .withZone(java.time.ZoneOffset.UTC)
  def win(startMs: Long): String = WinFmt.format(java.time.Instant.ofEpochMilli(startMs))

  /** Per-window measurements of a traced window, keyed like [[Layers.All]]. */
  type Obs = Map[String, Double]

  def run(env: Env, lines: => DataFrame, startMs: Long, wid: Int, root: String,
          traced: Boolean): Obs = {
    val spark = env.spark
    if (!traced) {
      env.tracer.group(s"win-$wid") {
        val dims = env.loadDims()
        val rs = BatchRunner.run(spark, lines, dims, startMs)
        try Sinks.lakeWrite(rs.all, root) finally rs.unpersist()
      }
      Map.empty
    } else {
      val t = env.tracer
      val obs = scala.collection.mutable.Map[String, Double]()
      t.span("window", wid) {
        // opening the dimension parquet (listing, schema); their rows are
        // read where compose and facts collect or join them
        val (dims, in) = t.span("dims.open", wid) { (env.loadDims(), lines) }
        obs("ingest.rows_kept") =
          t.span("ingest.clean", wid) { Ingest.clean(spark, in, startMs).count().toDouble }
        val rs = t.span("compose", wid) { BatchRunner.run(spark, in, dims, startMs) }
        try {
          val before = env.cachedBytes
          obs("facts.rows") = t.span("facts", wid) { rs.facts.count().toDouble }
          obs("facts.cached_mb") = (env.cachedBytes - before) / 1e6
          val reports = Layers.Reports.map { name =>
            name -> t.span(s"report.$name", wid) {
              val df = materialize(rs.all(name))
              obs(s"report.$name.rows") = df.count().toDouble
              df
            }
          }.toMap
          t.span("sink.lakeWrite", wid) { Sinks.lakeWrite(reports, root) }
        } finally t.span("unpersist", wid) { rs.unpersist() }
      }
      val w = win(startMs)
      val files = Layers.Reports.flatMap { n =>
        val d = Paths.get(root, n, s"win=$w")
        if (!Files.isDirectory(d)) Nil
        else {
          val ls = Files.list(d)
          try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
          finally ls.close()
        }
      }
      obs("sink.files") = files.size.toDouble
      obs("sink.mb") = files.map(Files.size(_)).sum / 1e6
      obs.toMap
    }
  }

  /** Per-layer numbers of traced windows (after the listener quiesced):
    * per window, then the median over windows. */
  def layers(env: Env, obs: Map[Int, Obs]): Map[String, Double] = {
    val t = env.tracer
    val spans = t.spans
    val perWindow: Seq[Map[String, Double]] = spans.filter(_.name == "window").map { root =>
      val kids = spans.filter(_.parent == root.id)
      def kid(n: String) = kids.find(_.name == n)
      def wall(n: String) = kid(n).map(_.wallS).getOrElse(0.0)
      def wk(n: String) = kid(n).map(t.workOf).getOrElse(new Work)
      val m = scala.collection.mutable.Map[String, Double]() ++ obs.getOrElse(root.window, Map.empty)
      val ing = wk("ingest.clean")
      m ++= Seq(
        "dims.open_s" -> wall("dims.open"),
        "ingest.wall_s" -> wall("ingest.clean"),
        "ingest.task_cpu_s" -> ing.cpuNs.get / 1e9,
        "ingest.lines_in" -> ing.inputRecords.get.toDouble,
        "ingest.jobs" -> ing.jobs.get.toDouble,
        "compose.wall_s" -> wall("compose"),
        "compose.jobs" -> wk("compose").jobs.get.toDouble,
        "facts.wall_s" -> wall("facts"),
        "enrich.self_s" -> (wall("facts") - wall("ingest.clean")),
        "sink.wall_s" -> wall("sink.lakeWrite"),
        "sink.jobs" -> wk("sink.lakeWrite").jobs.get.toDouble)
      m("ingest.keep_ratio") = m.getOrElse("ingest.rows_kept", 0.0) / math.max(1.0, m("ingest.lines_in"))
      Layers.Reports.foreach { r =>
        val w = wk(s"report.$r")
        m(s"report.$r.wall_s") = wall(s"report.$r")
        m(s"report.$r.task_cpu_s") = w.cpuNs.get / 1e9
        m(s"report.$r.shuffle_mb") = w.shuffleMb
      }
      val all = t.workOf(root)
      m ++= Seq("work.jobs" -> all.jobs.get.toDouble, "work.stages" -> all.stages.get.toDouble,
        "work.tasks" -> all.tasks.get.toDouble, "work.shuffle_mb" -> all.shuffleMb,
        "work.input_mb" -> all.inputBytes.get / 1e6,
        "trace.unattributed_ratio" -> t.selfS(root) / root.wallS,
        "window.id" -> root.window.toDouble)
      m.toMap
    }
    if (perWindow.isEmpty) Map.empty
    else {
      val keys = perWindow.flatMap(_.keys).distinct
      val med = keys.map(k => k -> Stats.median(perWindow.flatMap(_.get(k)))).toMap
      // work counts: those of the first traced window, so they repeat
      // exactly between runs of one seed
      val first = perWindow.minBy(_("window.id"))
      med ++ first.filter(_._1.startsWith("work.")) - "window.id"
    }
  }

  /** Ids (the span's window field) of the `root`-named spans whose self
    * time is more than [[Tracer.Slack]] of their wall: calls into the
    * program the benchmark did not span. */
  def unreconciled(t: Tracer, root: String): Seq[Int] =
    t.spans.filter(s => s.name == root && t.selfS(s) > Tracer.Slack * s.wallS).map(_.window)

  /** Self time per layer summed over the traced windows, for the trace file. */
  def selfByLayer(t: Tracer): Seq[(String, Double)] = {
    val spans = t.spans
    val inWindows = spans.filter(s => s.name == "window" || spans.exists(r =>
      r.name == "window" && r.id == s.parent))
    inWindows.groupBy(s => if (s.name.startsWith("report.")) s.name else s.name.takeWhile(_ != '.'))
      .map { case (k, ss) => k -> ss.map(t.selfS).sum }.toSeq.sortBy(_._1)
  }
}

/** Checks the six committed tables of `root` against the generator's
  * tallies; returns the ids of windows with any wrong or missing result. */
object Check {
  def apply(spark: SparkSession, root: String, tallies: Seq[Tally]): Set[Int] = {
    val byWin = tallies.map(t => Chain.win(t.startMs) -> t).toMap
    val bad = scala.collection.mutable.Set[Int]()
    def read(t: String): Option[DataFrame] = {
      val dir = Paths.get(root, t)
      val hasData = Files.isDirectory(dir) && {
        val w = Files.walk(dir)
        try w.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet")) finally w.close()
      }
      if (hasData) Some(spark.read.parquet(dir.toString)) else None
    }
    def flag(w: String): Unit = bad += byWin.get(w).map(_.window).getOrElse(-1)
    def rowsPerWin(t: String, aggs: org.apache.spark.sql.Column*): Map[String, org.apache.spark.sql.Row] =
      read(t).map(_.groupBy("win").agg(count(lit(1)).as("n"), aggs: _*).collect()
        .map(r => r.getString(0) -> r).toMap).getOrElse(Map.empty)
    def counts(t: String, want: Tally => Long, got: Map[String, org.apache.spark.sql.Row]): Unit = {
      got.keys.filterNot(byWin.contains).foreach(flag)
      byWin.foreach { case (w, tl) =>
        if (got.get(w).map(_.getLong(1)).getOrElse(0L) != want(tl)) flag(w)
      }
    }

    // clear: every row equals the tally, one row per clientName
    val clear = read("clear").map(_.select("win", "clientName", "sampleNum", "errorNum")
      .collect().toSeq).getOrElse(Nil)
    val clearGot = clear.groupBy(_.getString(0)).map { case (w, rs) =>
      w -> rs.map(r => (r.getInt(1), (r.getLong(2), r.getLong(3))))
    }
    clearGot.keys.filterNot(byWin.contains).foreach(flag)
    byWin.foreach { case (w, tl) =>
      val got = clearGot.getOrElse(w, Nil)
      if (got.size != tl.clear.size || got.toMap != tl.clear) flag(w)
    }

    // ratios: request-type and response-code counts, all and per client
    val ratios = read("ratios").map(_.select("win", "kind", "clientName", "requestType", "sampleNum")
      .collect().toSeq).getOrElse(Nil)
    val ratiosGot = ratios.groupBy(_.getString(0))
    ratiosGot.keys.filterNot(byWin.contains).foreach(flag)
    byWin.foreach { case (w, tl) =>
      val got = ratiosGot.getOrElse(w, Nil).map(r =>
        (r.getString(1), r.getInt(2), r.getString(3)) -> r.getLong(4))
      val want = tl.byType.map { case ((k, ty), n) => ("request", k, ty) -> n } ++
        tl.byCode.map { case ((k, c), n) => ("code", k, c.toString) -> n }
      if (got.size != want.size || got.toMap != want) flag(w)
    }

    // trend: the expected row count and resolver sum, every row above the threshold
    val trend = rowsPerWin("trend", sum("resolver"), min("resolver"))
    counts("trend", _.trendRows, trend)
    trend.foreach { case (w, r) =>
      byWin.get(w).foreach { tl =>
        if (r.getLong(2) != tl.trendResolver || r.getLong(3) <= Gen.TrendThreshold) flag(w)
      }
    }

    // top_detail: at most K rows, exactly the eligible groups
    val top = rowsPerWin("top_detail", sum("resolver"), min("resolver"))
    counts("top_detail", _.topDetailRows, top)
    top.foreach { case (w, r) =>
      byWin.get(w).foreach { tl =>
        if (r.getLong(1) > Gen.TopDetailK ||
          tl.topDetailResolver >= 0 && r.getLong(2) != tl.topDetailResolver) flag(w)
      }
    }

    // per_code_top: per (clientName, code) a rank 1..n, n <= K
    val pct = rowsPerWin("per_code_top", max("rn"))
    counts("per_code_top", _.perCodeTopRows, pct)
    pct.foreach { case (w, r) => if (r.getInt(2) > Gen.PerCodeK) flag(w) }

    // top_users: at most K home-client rows above the threshold
    val tu = rowsPerWin("top_users", min("resolver"), min("clientName"), max("clientName"))
    counts("top_users", _.topUsersRows, tu)
    tu.foreach { case (w, r) =>
      if (r.getLong(1) > Gen.TopUsersK || r.getLong(2) <= Gen.TopUserMinResolver ||
        r.getInt(3) != 1 || r.getInt(4) != 1) flag(w)
    }
    bad.toSet
  }
}
