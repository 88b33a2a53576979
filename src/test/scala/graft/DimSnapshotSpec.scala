package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dns.{BatchRunner, Dims}
import graft.operators.IntervalIndex
import graft.sinks.Sinks
import LakeWriteManifestSpec.jobsOf

/** Dimension snapshots ([[graft.operators.DimSnapshot]]): each dim is
  * collected, built and broadcast once per content version. A window over
  * re-read, unchanged dims composes with no Spark job; a rewritten dim is
  * picked up by the next window; the hash probe keeps a broadcast join's
  * rows and fan-out on duplicate keys; concurrent first uses build once. */
class DimSnapshotSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val windowStart = 1616631000000L
  private val rawLines = Seq(
    """{"Domain":"www.taobao.com","Timestamp":1616631000123,"ServerIP":"218.108.248.200","ClientIP":"100.104.103.190","QR":true,"Type":"A","ResponseCode":0,"Answers":[{"Type":"A","Value":"115.238.23.2"}]}""",
    """{"Domain":"nx.example.org","Timestamp":1616631010456,"ServerIP":"218.108.248.201","ClientIP":"30.250.11.7","QR":true,"Type":"A","ResponseCode":3,"Answers":[]}""")

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)

  private def save(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name")

  /** Writes the eight dims as parquet under `dir`: client rule type
    * `clientType` for 30.250.11.0/24, and one geo range over 115.238/16. */
  private def writeDims(dir: String, clientType: Int,
                        geo: (String, String, String)): Unit = {
    save(Seq((ip("30.250.11.0"), ip("30.250.11.255"), clientType))
      .toDF("min_long_ip", "max_long_ip", "client_type_id"), dir, "client_rules")
    save(Seq((ip("115.238.0.0"), ip("115.238.255.255"), "cdn", "cache", "prod"))
      .toDF("min_long_ip", "max_long_ip", "resource_name", "resource_type",
        "resource_props"), dir, "business_rules")
    save(Seq((ip("10.0.0.0"), ip("10.255.255.255")))
      .toDF("min_long_ip", "max_long_ip"), dir, "media_rules")
    save(Seq(("taobao.com", "淘宝", "电商", "淘宝网", "电商", "web"))
      .toDF("authorityDomain", "companyName", "companyType", "websiteName",
        "websiteType", "soft"), dir, "auth_domains")
    save(Seq("www.taobao.com").toDF("domain"), dir, "whitelist")
    save(Seq(("30.250.11.7", "user7")).toDF("clientIp", "userName"), dir, "users")
    save(Seq(("user7", "addr7", "137")).toDF("userName", "address", "phone"),
      dir, "user_info")
    writeGeo(dir, geo)
  }

  private def writeGeo(dir: String, geo: (String, String, String)): Unit =
    save(Seq((ip("115.238.0.0"), ip("115.238.255.255"), "中国", geo._1, geo._2, geo._3))
      .toDF("min_long_ip", "max_long_ip", "country", "province", "city", "operator"),
      dir, "geo")

  /** The dims as a window job opens them: a fresh read of every table. */
  private def readDims(dir: String): BatchRunner.DimTables = {
    def p(n: String) = spark.read.parquet(s"$dir/$n")
    BatchRunner.DimTables(p("client_rules"), p("business_rules"), p("media_rules"),
      p("auth_domains"), p("whitelist"), p("users"), p("user_info"), p("geo"))
  }

  private def run(dims: BatchRunner.DimTables): BatchRunner.ReportSet =
    BatchRunner.run(spark, rawLines.toDF("value"), dims, windowStart,
      trendThreshold = 0L)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def tmp(): String = Files.createTempDirectory("graft-dims").toString

  test("a window over re-read, unchanged parquet dims composes with no Spark job") {
    val dir = tmp()
    writeDims(dir, 1, ("浙江", "杭州", "中国电信"))
    val first = run(readDims(dir))
    val want = try first.all.map { case (n, df) => n -> rows(df) }
      finally first.unpersist()
    val dims = readDims(dir)
    val (second, jobs) = jobsOf(spark)(run(dims))
    try {
      assert(jobs == 0, s"composing over unchanged dims started $jobs Spark jobs")
      assert(second.all.map { case (n, df) => n -> rows(df) } == want)
    } finally second.unpersist()
  }

  test("a steady window compiles only the classes its literals change") {
    val dir = tmp()
    writeDims(dir, 1, ("浙江", "杭州", "中国电信"))
    val lake = tmp()
    // window k: a file of the fixture lines moved k windows on, so each
    // window has its own P3 bounds and `accesstime` stamp and the same
    // rows, its six reports written to the lake as a streaming window's are
    def window(k: Int): Long = {
      val shift = k * 300000L
      val file = java.nio.file.Paths.get(dir, s"lines-$k.json")
      Files.write(file, rawLines.map("\"Timestamp\":(\\d+)".r.replaceAllIn(_,
        m => s"\"Timestamp\":${m.group(1).toLong + shift}")).asJava)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val rs = BatchRunner.run(spark, spark.read.text(file.toString), readDims(dir),
        windowStart + shift, trendThreshold = 0L)
      try Sinks.lakeWrite(rs.all, lake) finally rs.unpersist()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    }
    // from the third window on: 16 in this fixture, each a class whose code
    // holds the P3 bounds or the `accesstime` stamp; a repeat of a window
    // compiles none. With the codegen cache at Spark's default of 100
    // entries a window evicts its own classes: 50-69 here, ~80 at 10^4
    // lines. That cache evicts per segment, so three windows are checked,
    // not one.
    val steady = (0 until 5).map(window).drop(2)
    assert(steady.forall(_ <= 16), s"steady windows compiled $steady classes")
  }

  test("rewriting client_rules and geo between two windows applies the new rows") {
    val dir = tmp()
    writeDims(dir, 1, ("浙江", "杭州", "中国电信"))
    def observe(): (Int, String, Long, Long) = {
      val rs = run(readDims(dir))
      try {
        val cn = rs.facts.filter(col("clientIp") === "30.250.11.7")
          .select("clientName").as[Int].head()
        val td = rs.topDetail.head()
        (cn, td.getAs[String]("aIpAddr"), td.getAs[Long]("telecomNum"),
          td.getAs[Long]("linkNum"))
      } finally rs.unpersist()
    }
    assert(observe() == ((1, "中国浙江杭州中国电信", 1L, 0L)))
    save(Seq((ip("30.250.11.0"), ip("30.250.11.255"), 3))
      .toDF("min_long_ip", "max_long_ip", "client_type_id"), dir, "client_rules")
    writeGeo(dir, ("广东", "深圳", "中国联通"))
    assert(observe() == ((3, "中国广东深圳中国联通", 0L, 1L)))
  }

  test("duplicate equi keys keep the broadcast join's rows and multiplicity") {
    val fact = Seq(
        ("a.com", "www.a.com", "1.1.1.1"), ("a.com", "www.a.com", "1.1.1.1"),
        ("b.com", "www.b.com", "2.2.2.2"), ("c.com", "www.c.com", "3.3.3.3"),
        (null, "bad", "4.4.4.4"))
      .toDF("authorityDomain", "domain", "clientIp")
    val auth = Seq(("a.com", "A1", "t1", "w1", "s1", "x"),
        ("a.com", "A2", null, "w2", "s2", "y"), ("b.com", "B", "t", "w", "s", "z"))
      .toDF("authorityDomain", "companyName", "companyType", "websiteName",
        "websiteType", "soft")
    val users = Seq(("1.1.1.1", "u1"), ("1.1.1.1", "u1b"), ("2.2.2.2", "u2"),
        ("9.9.9.9", "u9")).toDF("clientIp", "userName")
    val userInfo = Seq(("u1", "addr1", "p1"), ("u1", "addr1b", "p1b"),
        ("u2", null, "p2")).toDF("userName", "address", "phone")
    val whitelist = Seq("www.a.com", "www.a.com", "www.b.com").toDF("domain")

    def same(got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want))
    }
    def orUnknown(df: DataFrame, cols: Seq[String], v: String): DataFrame =
      df.withColumns(cols.map(c => c -> coalesce(col(c), lit(v))).toMap)
    same(Dims.enrichAuthDomain(fact, auth), orUnknown(
      fact.join(broadcast(auth), Seq("authorityDomain"), "left"),
      Seq("companyName", "companyType", "websiteName", "websiteType", "soft"), "未知"))
    same(Dims.enrichUser(fact, users, userInfo), orUnknown(
      fact.join(broadcast(users), Seq("clientIp"))
        .join(broadcast(userInfo), Seq("userName"), "left"),
      Seq("address", "phone"), " "))
    same(Dims.withWhitelistFlag(fact, whitelist),
      fact.join(broadcast(whitelist.select(col("domain"), lit(1).as("__wl"))),
          Seq("domain"), "left")
        .withColumn("isWhitelisted", col("__wl").isNotNull).drop("__wl"))
  }

  test("two driver-pool bodies enriching with the same new dims build each once") {
    val salt = System.nanoTime()
    val ranges = Seq((0L, 99L, s"low$salt"), (100L, 199L, s"high$salt"))
      .toDF("lo", "hi", "tag")
    val auth = Seq(("a.com", s"A$salt")).toDF("authorityDomain", "companyName")
    val fact = Seq((5L, "a.com"), (150L, "b.com"), (500L, "a.com"))
      .toDF("pt", "authorityDomain")
    def enrich(): DataFrame =
      graft.operators.DimSnapshot.equiLookup(
        IntervalIndex.enrichAuto(fact, col("pt"), ranges, "lo", "hi", "lo",
          lastWins = false), auth, "authorityDomain")
    val (outs, jobs) = jobsOf(spark)(DriverPool.run(2)(Seq(() => enrich(), () => enrich())))
    assert(jobs == 2, s"two bodies over two new dims started $jobs jobs, not one per dim")
    val want = Seq(s"a.com|5|low$salt|A$salt", s"b.com|150|high$salt|null",
      s"a.com|500|null|A$salt").sorted
    outs.foreach(o => assert(rows(o) == want))
    assert(outs.head.columns.toSeq == Seq("authorityDomain", "pt", "tag", "companyName"))
    assert(jobsOf(spark)(enrich())._2 == 0, "a third use rebuilt a snapshot")
  }
}
