package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dns._

/** End-to-end `call()` parity: one BatchRunner.run over the FIXTURES.md
  * window produces all six sink tables from one persisted fact set. */
class BatchRunnerSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val windowStart = 1616631000000L
  private val rawLines = Seq(
    """{"Domain":"www.taobao.com","Timestamp":1616631000123,"ServerIP":"218.108.248.200","ClientIP":"100.104.103.190","QR":true,"Type":"A","ResponseCode":0,"Answers":[{"Type":"CNAME","Value":"www.taobao.com.danuoyi.tbcache.com"},{"Type":"A","Value":"115.238.23.2"}]}""",
    """{"Domain":"nx.example.org","Timestamp":1616631010456,"ServerIP":"218.108.248.201","ClientIP":"30.250.11.7","QR":true,"Type":"A","ResponseCode":3,"Answers":[]}""",
    """{"Domain":"mail.example.com","Timestamp":1616631020789,"ServerIP":"218.108.248.200","ClientIP":"30.250.11.8","QR":true,"Type":"MX","ResponseCode":0,"Answers":[{"Type":"MX","Value":"10 mx1.example.com"}]}"""
  )

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)

  test("run produces all six sink tables with a shared persisted fact set") {
    val dims = BatchRunner.DimTables(
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

    val rs = BatchRunner.run(spark, rawLines.toDF("value"), dims, windowStart,
      trendThreshold = 0L)
    try {
      // clear: all-clients row counts 3 records, 2 errors (nx + mx)
      val all = rs.clear.filter(col("clientName") === 0).head()
      assert(all.getAs[Long]("sampleNum") == 3L)
      assert(all.getAs[Long]("errorNum") == 2L)

      // trend: taobao row enriched with company metadata, inNet from business
      val tb = rs.trend.filter(col("domain") === "www.taobao.com").head()
      assert(tb.getAs[String]("companyName") == "淘宝")
      assert(tb.getAs[Long]("inNet") == 1L)

      // top detail: with minResolver=10 only the whitelisted domain passes
      // (1 + boost 10 >= 10) — the boost's exact purpose in the reference —
      // and its resolver is un-boosted back to the true count afterwards
      assert(rs.topDetail.select("domain").as[String].collect().toSeq ==
        Seq("www.taobao.com"))
      val td = rs.topDetail.head()
      assert(td.getAs[Long]("resolver") == 1L)
      // ...and the row carries the full Tuple2Es enrichment: inNet from the
      // business range, resource attrs (last match), auth-domain company
      // attrs, and the geo-derived counters + aIpAddr
      assert(td.getAs[Long]("inNet") == 1L)
      assert(td.getAs[String]("resourceName") == "cdn")
      assert(td.getAs[String]("companyName") == "淘宝")
      assert(td.getAs[String]("authorityDomain") == "taobao.com")
      assert(td.getAs[Long]("telecomNum") == 1L)
      assert(td.getAs[Long]("abroadNum") == 0L)
      assert(td.getAs[Long]("gatNum") == 0L)
      assert(td.getAs[String]("aIpAddr") == "中国浙江杭州中国电信")

      // ratios: request-kind rows + code-kind rows
      assert(rs.ratios.filter(col("kind") === "request").count() > 0)
      assert(rs.ratios.filter(col("kind") === "code").count() > 0)

      // per-code top: NXDOMAIN row ranks nx.example.org first
      val nx = rs.perCodeTop
        .filter(col("clientName") === 0 && col("responseCode") === 3).head()
      assert(nx.getAs[String]("domain") == "nx.example.org")

      // top users: only the in-range client resolves to a user (inner join),
      // and userAgg keeps clientName==1 only — user7's nx query qualifies
      // iff resolver > minResolver; with 1 record it is filtered out.
      assert(rs.topUsers.count() == 0L)

      // every sink table carries the window stamp
      rs.all.values.foreach { df =>
        assert(df.columns.contains("accesstime"))
      }

      // default threshold (>100) empties the fixture's trend table
      val strict = BatchRunner.run(spark, rawLines.toDF("value"), dims, windowStart)
      try assert(strict.trend.count() == 0L) finally strict.unpersist()
    } finally rs.unpersist()
  }

  test("the J1+J3+J4 enrichment stage is shuffle-free on the fact side") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dims = BatchRunner.DimTables(
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
    val fact = Seq(
      ("www.taobao.com", "100.104.103.190", "115.238.23.2", 1L),
      ("nx.example.org", "30.250.11.7", "0.0.0.0", 1L))
      .toDF("domain", "clientIp", "aip", "resolver")
      .withColumn("authorityDomain",
        graft.functions.Functions.authority_domain(col("domain")))
    // the r1 windowed J1 exchanged+sorted the whole fact table on a per-row
    // key; the IntervalIndex default must not shuffle the fact side at all
    val enriched = Dims.enrichAuthDomain(
      Dims.enrichInNet(spark,
        Dims.enrichClientName(fact, dims.clientRules),
        dims.mediaRules, dims.businessRules),
      dims.authDomains)
    enriched.collect() // force AQE to finalize the plan
    val executed = enriched.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // match materialized AQE stages too — a ShuffleQueryStageExec is a LEAF
    // wrapper, so collecting only ShuffleExchangeExec would be vacuous
    val shuffles = executed.collect {
      case s: ShuffleExchangeExec => s
      case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => s
    }
    assert(shuffles.isEmpty,
      s"enrichment stage must be shuffle-free, found: $shuffles")
    // dims are UDF probes of their snapshots; SHUFFLE exchanges are not allowed
    assert(!executed.toString.contains("ShuffleExchange")
      && !executed.toString.contains("ShuffleQueryStage"),
      s"no shuffle exchange may appear anywhere in:\n$executed")
    // and the semantics still hold
    val byDomain = enriched.select("domain", "clientName")
      .as[(String, Int)].collect().toMap
    assert(byDomain("nx.example.org") == 1 && byDomain("www.taobao.com") == 5)
  }

  test("topDetail Tuple2Es enrichment is shuffle-free after the top-K") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val top = Seq(
      (5, "http://www.taobao.com", "218.108.248.200", "115.238.23.2", 5L, 1L),
      (1, "nx.example.org", "218.108.248.201", "0.0.0.0", 3L, 3L))
      .toDF("clientName", "domain", "dnsIp", "aip", "resolver", "error")
    val media = Seq((ip("10.0.0.0"), ip("10.255.255.255")))
      .toDF("min_long_ip", "max_long_ip")
    val biz = Seq((ip("115.238.0.0"), ip("115.238.255.255"), "cdn", "cache", "prod"))
      .toDF("min_long_ip", "max_long_ip",
        "resource_name", "resource_type", "resource_props")
    val auth = Seq(("taobao.com", "淘宝", "电商", "淘宝网", "电商", "web"))
      .toDF("authorityDomain", "companyName", "companyType",
        "websiteName", "websiteType", "soft")
    val geo = Seq((ip("115.238.0.0"), ip("115.238.255.255"),
      "中国", "浙江", "杭州", "中国电信"))
      .toDF("min_long_ip", "max_long_ip", "country", "province", "city", "operator")
    val enriched = Reports.topDetailEnriched(spark, top, geo, auth, media, biz)
    enriched.collect()
    val executed = enriched.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = executed.collect {
      case s: ShuffleExchangeExec => s
      case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => s
    }
    assert(shuffles.isEmpty,
      s"Tuple2Es enrichment must be shuffle-free, found: $shuffles")
    // protocol strip + counters survive the plan
    val tb = enriched.filter(col("aip") === "115.238.23.2").head()
    assert(tb.getAs[String]("domain") == "www.taobao.com")
    assert(tb.getAs[Long]("telecomNum") == 5L && tb.getAs[Long]("inNet") == 5L)
  }

  test("concurrent report composition ≡ sequential (schemas and rows)") {
    // BatchRunner.run composes its six reports from a thread pool (guide
    // §2.6 on the driver — r17); this pins that the concurrently-composed
    // set is IDENTICAL to the sequential formula it replaced: same column
    // names in the same order, same rows.
    val dims = BatchRunner.DimTables(
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
    val rs = BatchRunner.run(spark, rawLines.toDF("value"), dims, windowStart,
      trendThreshold = 0L)
    try {
      // the sequential reference: the same report formulas composed one
      // after another on this thread, off the same persisted fact set
      val stamp = lit(new java.sql.Timestamp(windowStart))
      val seq = Map(
        "clear" -> Reports.qps(rs.facts, 300),
        "trend" -> Reports.trendAgg(rs.facts, 0L),
        "top_detail" -> Reports.topDetailEnriched(spark,
          Reports.topDetail(rs.facts, dims.whitelist, 70000),
          dims.geoDim, dims.authDomains, dims.mediaRules, dims.businessRules),
        "ratios" -> Reports.requestTypeRatio(rs.facts)
          .withColumn("kind", lit("request"))
          .unionByName(Reports.responseCodeRatio(rs.facts)
            .withColumnRenamed("responseCode", "requestType")
            .withColumn("requestType", col("requestType").cast("string"))
            .withColumn("kind", lit("code"))),
        "per_code_top" -> Reports.perCodeTopK(rs.facts, "domain", 5000),
        "top_users" -> Reports.topUsers(
          Dims.enrichUser(rs.facts, dims.users, dims.userInfo),
          minResolver = 50L)
      ).map { case (n, df) => n -> df.withColumn("accesstime", stamp) }
      rs.all.foreach { case (name, conc) =>
        val ref = seq(name)
        assert(conc.columns.toSeq == ref.columns.toSeq,
          s"$name: column order diverged from the sequential composition")
        assert(conc.schema == ref.schema, s"$name: schema diverged")
        def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.collect().map(_.toString).sorted.toSeq
        assert(rows(conc) == rows(ref), s"$name: rows diverged")
      }
    } finally rs.unpersist()
  }

  test("all+per-client reports are a single fact pass (grouping sets)") {
    val fact = Seq((1, "A", 0L), (1, "MX", 1L), (2, "A", 0L))
      .toDF("clientName", "requestType", "error")
      .withColumn("responseCode", lit(0))
    val qps = Reports.qps(fact)
    // exactly ONE scan of the fact and ONE Expand (the grouping-sets node) —
    // the r2 shape unioned two independent aggregates, i.e. two scans
    val plan = qps.queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(plan).size == 1,
      s"expected one fact scan, plan:\n$plan")
    assert(plan.contains("Expand"), s"expected a grouping-sets Expand:\n$plan")
    // the grand set renders as clientName=0 with the all-clients totals
    val byClient = qps.select("clientName", "sampleNum", "errorNum")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byClient(0) == ((3L, 1L)) && byClient(1) == ((2L, 1L))
      && byClient(2) == ((1L, 0L)))
  }
}
