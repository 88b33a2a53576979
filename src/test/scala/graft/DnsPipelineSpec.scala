package graft

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dns._

/** Ingest + dims + reports over the FIXTURES.md sample log lines. */
class DnsPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // FIXTURES.md §1 fixture lines; window starts 2021-03-25 00:10:00 UTC (epoch-ms 1616631000000)
  private val windowStart = 1616631000000L
  private val rawLines = Seq(
    """{"Domain":"www.taobao.com","Timestamp":1616631000123,"ServerIP":"218.108.248.200","ClientIP":"100.104.103.190","QR":true,"Type":"A","ResponseCode":0,"Answers":[{"Type":"CNAME","Value":"www.taobao.com.danuoyi.tbcache.com"},{"Type":"A","Value":"115.238.23.2"},{"Type":"A","Value":"115.238.23.12"}]}""",
    """{"Domain":"nx.example.org","Timestamp":1616631010456,"ServerIP":"218.108.248.201","ClientIP":"30.250.11.7","QR":true,"Type":"A","ResponseCode":3,"Answers":[]}""",
    """{"Domain":"mail.example.com","Timestamp":1616631020789,"ServerIP":"218.108.248.200","ClientIP":"30.250.11.8","QR":true,"Type":"MX","ResponseCode":0,"Answers":[{"Type":"MX","Value":"10 mx1.example.com"}]}""",
    """{"Domain":"host1.localdomain","Timestamp":1616631030000,"ServerIP":"218.108.248.202","ClientIP":"30.250.11.9","QR":true,"Type":"A","ResponseCode":0,"Answers":[]}""",
    """{"Domain":"www.qq.com","Timestamp":1616630000000,"ServerIP":"218.108.248.200","ClientIP":"30.250.11.9","QR":true,"Type":"A","ResponseCode":0,"Answers":[{"Type":"A","Value":"58.250.137.36"}]}""",
    """{"Domain":"query.example.com","Timestamp":1616631000500,"ServerIP":"218.108.248.200","ClientIP":"30.250.11.9","QR":false,"Type":"A","ResponseCode":0,"Answers":[]}""",
    """not-json-garbage-line""")

  private lazy val cleaned =
    Ingest.clean(spark, rawLines.toDF("value"), windowStart).cache()

  test("clean: drops malformed, non-response, garbage-domain, out-of-window") {
    val domains = cleaned.select("domain").as[String].collect().sorted
    assert(domains.toSeq == Seq("mail.example.com", "nx.example.org", "www.taobao.com"))
  }

  test("clean parses each line once, its filters inside whole-stage codegen") {
    // lines from an RDD, as from a file: the optimizer folds a plan over
    // a local relation into a local relation
    val lines = spark.sparkContext.parallelize(rawLines).toDF("value")
    val qe = Ingest.clean(spark, lines, windowStart).queryExecution
    val parses = qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case j: JsonToStructs => j }))
    assert(parses.size == 1, s"${parses.size} JSON parses in\n${qe.optimizedPlan}")
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the filters of a codegen stage: below it, above its input adapters
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case f: FilterExec => f +: f.children.flatMap(fused)
      case o => o.children.flatMap(fused)
    }
    val filters = plan.collect { case f: FilterExec => f }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec =>
      fused(w.child) }.flatten
    assert(filters.nonEmpty && inCodegen == filters, s"\n$plan")
  }

  test("answer derivation: first A answer, last answer type, error flag") {
    val tb = cleaned.filter(col("domain") === "www.taobao.com").head()
    assert(tb.aip == "115.238.23.2")      // first A record (deterministic pick)
    assert(tb.responseType == "A")        // last answer's Type
    assert(tb.error == 0L)
    val nx = cleaned.filter(col("domain") === "nx.example.org").head()
    assert(nx.aip == "0.0.0.0" && nx.error == 1L && nx.responseType == "other")
    val mx = cleaned.filter(col("domain") === "mail.example.com").head()
    assert(mx.aip == "0.0.0.0" && mx.error == 1L) // non-A: aip default => error
  }

  test("garbage filter keeps reference's DHCP contains+endsWith quirk") {
    val f = Ingest.garbageDomainFilter(col("d"))
    val kept = Seq("x-DHCP-y", "endsDHCP", "ok.com", "a getCached b", "x.localdomain")
      .toDF("d").filter(f).as[String].collect().toSeq
    assert(kept == Seq("x-DHCP-y", "ok.com")) // only contains&&endsWith dropped
  }

  test("dims: clientName range join with default 5") {
    val rules = Seq((Ipv4("30.250.11.0"), Ipv4("30.250.11.255"), 1))
      .toDF("min_long_ip", "max_long_ip", "client_type_id")
    val out = Dims.enrichClientName(cleaned.toDF(), rules)
    val byDomain = out.select("domain", "clientName").as[(String, Int)].collect().toMap
    assert(byDomain("nx.example.org") == 1)     // in range
    assert(byDomain("www.taobao.com") == 5)     // default
  }

  test("reports: qps emits all-clients row (clientName=0) plus per-client") {
    val qps = Reports.qps(cleaned.toDF()).collect()
    val all = qps.find(_.getAs[Int]("clientName") == 0).get
    assert(all.getAs[Long]("sampleNum") == 3L)
    assert(all.getAs[Long]("errorNum") == 2L)   // nx + mx
  }

  test("reports: perCodeTopK ranks domains within response code") {
    val t = Reports.perCodeTopK(cleaned.toDF(), "domain", 10)
      .filter(col("clientName") === 0)
      .select("responseCode", "domain", "cnt", "rn")
      .as[(Int, String, Long, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    // code 0: mail.example.com + www.taobao.com (tie cnt=1, domain asc); code 3: nx
    assert(t == Seq((0, "mail.example.com", 1L, 1), (0, "www.taobao.com", 1L, 2),
      (3, "nx.example.org", 1L, 1)))
  }

  test("reports: topDetail boost/unboost round-trips resolver values") {
    val wl = Seq("www.taobao.com").toDF("domain")
    val top = Reports.topDetail(cleaned.toDF(), wl, k = 10, minResolver = 1, boostAmt = 10)
    val rows = top.select("domain", "resolver").as[(String, Long)].collect().toMap
    assert(rows("www.taobao.com") == 1L) // unboosted back to true count
  }


  test("parse with an observation tallies dropped lines in the same pass") {
    val obs = new org.apache.spark.sql.Observation("ingest")
    val out = Ingest.parse(rawLines.toDF("value"), obs = Some(obs))
    val kept = out.count()
    // 7 fixture lines: 1 garbage JSON + 0 domain-less; QR/window/domain
    // filters run AFTER parse, so only the non-JSON line is "bad" here.
    assert(kept == 6L)
    assert(obs.get("bad_records") == 1L)
  }

  private object Ipv4 {
    def apply(s: String): Long =
      s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)
  }
}
