package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import LakeWriteManifestSpec.{manifestFiles, parquetFiles, winDirs}
import graft.dns.BatchRunner
import graft.sources.ZLake
import graft.streaming.StreamRunner

/** End-to-end streaming production path: file-source raw JSON lines →
  * foreachBatch → BatchRunner.run (the per-window batch code path, reused
  * verbatim) → sink tables. */
class StreamingBatchRunnerSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val windowStart = 1616631000000L

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)

  private lazy val dims = BatchRunner.DimTables(
    clientRules = Seq((ip("30.250.11.0"), ip("30.250.11.255"), 1))
      .toDF("min_long_ip", "max_long_ip", "client_type_id"),
    businessRules = Seq((ip("115.238.0.0"), ip("115.238.255.255"),
      "cdn", "cache", "prod"))
      .toDF("min_long_ip", "max_long_ip",
        "resource_name", "resource_type", "resource_props"),
    mediaRules = Seq((ip("10.0.0.0"), ip("10.255.255.255")))
      .toDF("min_long_ip", "max_long_ip"),
    authDomains = Seq(("taobao.com", "淘宝", "电商", "淘宝网", "电商", "web"))
      .toDF("authorityDomain", "companyName", "companyType",
        "websiteName", "websiteType", "soft"),
    whitelist = Seq("www.taobao.com").toDF("domain"),
    users = Seq(("30.250.11.7", "user7")).toDF("clientIp", "userName"),
    userInfo = Seq(("user7", "addr7", "137")).toDF("userName", "address", "phone"),
    geoDim = Seq((ip("115.238.0.0"), ip("115.238.255.255"),
      "中国", "浙江", "杭州", "中国电信"))
      .toDF("min_long_ip", "max_long_ip", "country", "province", "city",
        "operator"))

  test("raw log stream drives the full report pipeline via foreachBatch") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-sbr-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sbr-ck").toString
    val lines = Seq(
      s"""{"Domain":"www.taobao.com","Timestamp":${windowStart + 123},"ServerIP":"218.108.248.200","ClientIP":"100.104.103.190","QR":true,"Type":"A","ResponseCode":0,"Answers":[{"Type":"A","Value":"115.238.23.2"}]}""",
      s"""{"Domain":"nx.example.org","Timestamp":${windowStart + 456},"ServerIP":"218.108.248.201","ClientIP":"30.250.11.7","QR":true,"Type":"A","ResponseCode":3,"Answers":[]}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "w1.log"),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val results = scala.collection.mutable.Map[String, Long]()
    val q = StreamRunner.reportEvery(
        StreamRunner.rawStream(spark, inDir), "0 seconds", ckpt) { (batch, _) =>
      val rs = BatchRunner.run(spark, batch, dims, windowStart, trendThreshold = 0L)
      try results.synchronized {
        rs.all.foreach { case (name, df) =>
          results(name) = results.getOrElse(name, 0L) + df.count()
        }
      } finally rs.unpersist()
    }.start()
    try q.processAllAvailable() finally q.stop()

    assert(results("clear") > 0)         // QPS rows (all + per-client)
    assert(results("trend") == 2L)       // both domains at threshold 0
    assert(results("per_code_top") > 0)
    assert(results.contains("top_detail") && results.contains("top_users"))
  }

  /** The full production composition: file source → foreachBatch →
    * BatchRunner.run (window derived from the batch's own timestamps) →
    * Sinks.lakeWrite. The query is KILLED during window 2's epoch — after
    * its sinks are written (`crashIn = None`) or by `crashIn`'s own write
    * failing while its siblings are mid-write — and on restart the epoch
    * replays and the window-keyed dynamic partition overwrite converges:
    * every table ends with exactly one copy of each window, row-for-row
    * a direct batch run of the same lines, and every window directory
    * carries a manifest covering exactly its files, so ZLake.read plans
    * the recovered lake from manifests alone. Returns the lake root. */
  private def killRestart(crashIn: Option[String]): String = {
    import graft.sinks.Sinks
    import StreamingBatchRunnerSpec.failing
    val inDir = java.nio.file.Files.createTempDirectory("graft-kr-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kr-ck").toString
    val root = java.nio.file.Files.createTempDirectory("graft-kr-lake").toString
    val w2 = windowStart + 300000L
    def line(ts: Long, dom: String, code: Int) =
      s"""{"Domain":"$dom","Timestamp":$ts,"ServerIP":"218.108.248.200","ClientIP":"30.250.11.7","QR":true,"Type":"A","ResponseCode":$code,"Answers":[{"Type":"A","Value":"115.238.23.2"}]}"""
    val w1Lines = Seq(line(windowStart + 100, "www.taobao.com", 0),
      line(windowStart + 200, "a.example.com", 3))
    // the whitelisted domain gives top_detail a window-2 row to fail on
    val w2Lines = Seq(line(w2 + 100, "b.example.com", 0),
      line(w2 + 200, "www.taobao.com", 0))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(inDir, name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // every row of the crashing table's write fails while `failing` is set
    // (after a pause, so the sibling writes are under way)
    val failWrite = udf { (_: java.sql.Timestamp) =>
      if (failing.get()) {
        Thread.sleep(200)
        throw new IllegalStateException("injected sink-write failure")
      }
      true
    }.asNondeterministic()

    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery() = StreamRunner.reportEvery(
        StreamRunner.rawStream(spark, inDir, maxFilesPerTrigger = 1),
        "0 seconds", ckpt) { (batch, _) =>
      val minTs = batch.select(min(get_json_object(col("value"), "$.Timestamp")
        .cast("long"))).head().getLong(0)
      val ws = minTs / 300000L * 300000L
      val rs = BatchRunner.run(spark, batch, dims, ws, trendThreshold = 0L,
        topUserMinResolver = 0L)
      val crash = ws == w2 && failOnce.getAndSet(false)
      val tables = crashIn match {
        case Some(t) if crash =>
          failing.set(true)
          rs.all.updated(t, rs.all(t).filter(failWrite(col("accesstime"))))
        case _ => rs.all
      }
      try Sinks.lakeWrite(tables, root)
      finally { failing.set(false); rs.unpersist() }
      if (crash)
        throw new RuntimeException("crash after sink write, before commit")
    }.start()

    writeFile("w1.log", w1Lines)
    val q1 = startQuery()
    q1.processAllAvailable()
    writeFile("w2.log", w2Lines)
    try { q1.processAllAvailable(); q1.stop() }
    catch { case _: Throwable => () } // the injected crash kills the query
    assert(!q1.isActive && !failOnce.get(), "crash must have fired")
    def messages(t: Throwable): Seq[String] = if (t == null) Nil
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    val crashMessage = if (crashIn.isEmpty) "crash after sink write"
      else "injected sink-write failure"
    assert(q1.exception.exists(e =>
      messages(e).exists(_.contains(crashMessage))),
      s"the query must have died of the injected crash: ${q1.exception}")

    val q2 = startQuery() // same checkpoint: w2's epoch replays, w1's doesn't
    try q2.processAllAvailable() finally q2.stop()

    // exactly-once: per table, the lake holds precisely the union of a
    // direct batch run of each window — nothing lost, nothing doubled
    val expected = Seq((windowStart, w1Lines), (w2, w2Lines)).map {
      case (ws, ls) =>
        val rs = BatchRunner.run(spark, ls.toDF("value"), dims, ws,
          trendThreshold = 0L, topUserMinResolver = 0L)
        try rs.all.map { case (n, df) => n -> df.count() }
        finally rs.unpersist()
    }.reduce((a, b) => a.map { case (n, c) => n -> (c + b(n)) })
    expected.foreach { case (table, want) =>
      assert(want > 0, s"$table: degenerate fixture, expected rows")
      val got = spark.read.parquet(s"$root/$table").count()
      assert(got == want, s"$table: lake has $got rows, batch parity wants $want")
    }
    // and both window partitions are present (w1 untouched by the replay)
    assert(spark.read.parquet(s"$root/clear").select("win").distinct()
      .as[String].collect().toSet == Set("20210325_0010", "20210325_0015"))
    // every committed window is manifest-covered, and the manifest-planned
    // read keeps batch parity without opening a footer
    expected.foreach { case (table, want) =>
      val dirs = winDirs(s"$root/$table")
      assert(dirs.nonEmpty, s"$table: no window directories")
      dirs.foreach { d =>
        assert(manifestFiles(d) == parquetFiles(d),
          s"$table: $d is not covered by its manifest")
      }
      val opens = ZLake.footerOpens.get()
      val got = ZLake.read(spark, s"$root/$table")
      assert(got.count() == want, s"$table: ZLake.read breaks batch parity")
      assert(ZLake.footerOpens.get() == opens,
        s"$table: ZLake.read opened footers over a covered lake")
    }
    root
  }

  test("kill-restart over two windows lands all six sink tables exactly once") {
    killRestart(crashIn = None)
  }

  Seq("clear", "trend", "top_detail", "ratios", "per_code_top", "top_users")
    .foreach { table =>
      test(s"kill-restart: the $table write fails mid-epoch") {
        killRestart(crashIn = Some(table))
      }
    }

  test("kill-restart: a window whose manifest write never ran plans through its footers") {
    // the state a crash between a window's data commit and its manifest
    // write leaves behind
    val root = killRestart(crashIn = None)
    val table = s"$root/clear"
    val dir = java.nio.file.Paths.get(table, "win=20210325_0015")
    java.nio.file.Files.delete(dir.resolve(ZLake.ManifestName))
    val files = parquetFiles(dir).size
    assert(files > 0)
    val opens = ZLake.footerOpens.get()
    val df = ZLake.read(spark, table)
    df.queryExecution.executedPlan
    assert(ZLake.footerOpens.get() - opens == files,
      "exactly the uncovered window's footers must open")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(d.columns.sorted.map(col): _*).collect().map(_.mkString("|"))
        .toSeq.sorted
    assert(rows(df) == rows(spark.read.parquet(table)))
  }
}

object StreamingBatchRunnerSpec {
  /** Read inside tasks (local mode: the same JVM), so it is a static flag
    * rather than a value a closure would capture by copy. */
  val failing = new java.util.concurrent.atomic.AtomicBoolean(false)
}
