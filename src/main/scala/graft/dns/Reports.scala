package graft.dns

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Functions => F}
import graft.operators.{DimSnapshot, TopK}

/** The report suite (SURVEY §2.5 aggregations and §2.6 top-K): the reports
  * behind graft's six sink tables and the user report. The reference's A3,
  * A8-A12 and T4 reports are not among those tables; q40/q41/q49 gate only
  * their SQL shape.
  *
  * Every report is a pure `DataFrame → DataFrame` so batch, streaming
  * (`foreachBatch`) and tests share one code path. The reference computes
  * each "all + per-client" pair twice with copy-pasted code (e.g.
  * DnsRptCH.scala:522-553); here a single function takes the grouping
  * columns — clientName hard-coded 0 reproduces the "all" row set.
  *
  * Scale notes: every groupBy below is a hash aggregate with map-side
  * partial aggregation (the reference's manual salting, DnsRptCH.scala:
  * 641-764, is subsumed); per-group top-K goes through a rank window that
  * Spark 4's InferWindowGroupLimit pushes into the shuffle.
  */
object Reports {

  /** One fact pass for an "all + per-client" report pair: GROUPING SETS
    * ((clientName, dims…), (dims…)) in a SINGLE hash aggregate — the grand
    * set's rows render clientName as 0, the reference's all-clients id
    * (SURVEY §7.1's design rule; the r2 shape was two aggregates + a union,
    * i.e. two full fact scans per report — 5 such pairs per window).
    * `grouping(clientName)` disambiguates the set, so a null clientName in
    * the data could not masquerade as the all row; clientName=0 itself is
    * reserved by the reference for "all" and never occurs in facts
    * (Ingest defaults unmatched clients to 5). */
  private def allAndPerClient(df: DataFrame, dims: Seq[Column])
                             (aggs: Seq[Column]): DataFrame = {
    val cn = col("clientName")
    df.groupingSets(Seq(cn +: dims, dims), (cn +: dims): _*)
      .agg(aggs.head, (aggs.tail :+ grouping(cn).as("__all")): _*)
      .withColumn("clientName", when(col("__all") === 1, lit(0)).otherwise(cn))
      .drop("__all")
  }

  /** A1: QPS — count + error count per clientName (clientName=0 row = all
    * clients); avgNum = floor(count/windowSec). DnsRptCH.scala:522-553. */
  def qps(df: DataFrame, windowSec: Int = 300): DataFrame =
    allAndPerClient(df, Nil)(
        Seq(count(lit(1)).as("sampleNum"), sum(col("error")).as("errorNum")))
      .withColumn("avgNum", floor(col("sampleNum") / windowSec))

  /** A2: request-type ratio (all + per-client). DnsRptCH.scala:774-791. */
  def requestTypeRatio(df: DataFrame): DataFrame =
    allAndPerClient(df, Seq(col("requestType")))(Seq(count(lit(1)).as("sampleNum")))

  /** A4: response-code ratio (all + per-client). DnsRptCH.scala:608-625. */
  def responseCodeRatio(df: DataFrame): DataFrame =
    allAndPerClient(df, Seq(col("responseCode")))(Seq(count(lit(1)).as("sampleNum")))

  /** A5: 4-dim base aggregate. DnsRptCH.scala:560-562. */
  def baseAgg(df: DataFrame): DataFrame =
    df.groupBy(col("clientName"), col("domain"), col("dnsIp"), col("aip"))
      .agg(sum(col("resolver")).as("resolver"), sum(col("error")).as("error"))

  /** A6: 8-dim trend aggregate with HAVING sum(resolver) > threshold.
    * DnsRptCH.scala:47-53. */
  def trendAgg(df: DataFrame, threshold: Long = 100): DataFrame =
    df.groupBy(col("clientName"), col("domain"), col("aip"), col("companyName"),
        col("authorityDomain"), col("soft"), col("websiteName"), col("websiteType"))
      .agg(sum(col("resolver")).as("resolver"), sum(col("inNet")).as("inNet"),
        sum(col("error")).as("error"))
      .filter(col("resolver") > threshold)

  /** A7: per-user 4-dim aggregate, home clients only (clientName==1),
    * sum(resolver) > 50. DnsRptCH.scala:364-370. */
  def userAgg(df: DataFrame, minResolver: Long = 50): DataFrame =
    df.groupBy(col("clientName"), col("clientIp"), col("domain"), col("aip"))
      .agg(sum(col("resolver")).as("resolver"), sum(col("error")).as("error"))
      .filter(col("clientName") === 1 && col("resolver") > minResolver)

  /** T1: global top-K detail with whitelist boost (DnsRptCH.scala:558-601).
    * Boost = +boostAmt resolver for whitelisted domains BEFORE the
    * resolver >= minResolver filter and the top-K rank, removed afterwards.
    * `orderBy().limit(k)` plans as TakeOrderedAndProject — a per-partition
    * K-heap; the reference's take(70000)-to-driver round-trip disappears. */
  def topDetail(df: DataFrame, whitelist: DataFrame, k: Int = 70000,
                minResolver: Long = 10, boostAmt: Long = 10): DataFrame = {
    val boosted = Dims.withWhitelistFlag(baseAgg(df), whitelist)
      .withColumn("resolver",
        when(col("isWhitelisted"), col("resolver") + boostAmt).otherwise(col("resolver")))
      .filter(col("resolver") >= minResolver)
    TopK.global(boosted, k, col("resolver").desc, col("domain").asc,
        col("clientName").asc, col("dnsIp").asc, col("aip").asc)
      .withColumn("resolver",
        when(col("isWhitelisted"), col("resolver") - boostAmt).otherwise(col("resolver")))
      .drop("isWhitelisted")
  }

  /** T1 detail enrichment (reference `Tuple2Es`, DnsRptCH.scala:204-291) —
    * completes the `dns_flow_top` row shape over [[topDetail]] output:
    *
    *  - protocol strip + authority domain (DnsRptCH.scala:216-220);
    *  - inNet membership over media ∪ business ranges (:222-235, sane union
    *    semantics — see [[Dims.enrichInNet]]);
    *  - business resource attrs, last match wins (:590-596 shape);
    *  - auth-domain company attrs: websiteName/creditCode/companyName/
    *    companyAddr/onRecord/soft stay null on miss, companyType/websiteType
    *    default "未知" (:237-258);
    *  - geo-derived counters (:261-289): abroadNum (country ≠ 中国),
    *    telecomNum (operator has 电信), linkNum (operator has 联通), gatNum
    *    (province has 香港/澳门/台湾), and aIpAddr = country ++
    *    (province==city ? province : province++city) ++ operator; all 0/null
    *    when the ip is outside the geo db.
    *
    * Every step is a probe of a dim snapshot (interval index or hash
    * index, [[graft.operators.DimSnapshot]]) — no join operator, and the
    * fact side is never shuffled (plan-asserted, BatchRunnerSpec). `geoDim` must
    * carry country/province/city/operator; its raw attribute columns are
    * consumed into the counters and aIpAddr, then dropped — the output is
    * the reference's dns_flow_top row shape. */
  def topDetailEnriched(spark: org.apache.spark.sql.SparkSession, top: DataFrame,
                        geoDim: DataFrame, authDim: DataFrame,
                        mediaRules: DataFrame, businessRules: DataFrame): DataFrame = {
    val stripped = top
      .withColumn("domain", F.strip_protocol(col("domain")))
      .withColumn("authorityDomain", F.authority_domain(col("domain")))
    val withInNet = Dims.enrichInNet(spark, stripped, mediaRules, businessRules)
    val withBiz = Dims.enrichBusiness(withInNet, businessRules)
    val withAuth = DimSnapshot.equiLookup(withBiz, authDim, "authorityDomain")
      // single withColumns per group (each withColumn re-analyzes the
      // whole plan; this composes per window — BatchRunner §2.6 note)
      .withColumns(scala.collection.immutable.ListMap(
        "companyType" -> coalesce(col("companyType"), lit("未知")),
        "websiteType" -> coalesce(col("websiteType"), lit("未知"))))
    val geoAttrCols = geoDim.columns.filterNot(Set("min_long_ip", "max_long_ip"))
    Dims.enrichGeo(spark, withAuth, geoDim, F.ip_to_long(col("aip")))
      .withColumns(scala.collection.immutable.ListMap(
        "abroadNum" ->
          when(col("country").isNotNull && col("country") =!= "中国",
            col("resolver")).otherwise(0L),
        "telecomNum" ->
          when(col("operator").contains("电信"), col("resolver")).otherwise(0L),
        "linkNum" ->
          when(col("operator").contains("联通"), col("resolver")).otherwise(0L),
        "gatNum" ->
          when(col("province").rlike("香港|澳门|台湾"), col("resolver"))
            .otherwise(0L),
        "aIpAddr" ->
          when(col("country").isNotNull,
            concat(col("country"),
              when(col("city") === col("province"), col("province"))
                .otherwise(concat(col("province"), col("city"))),
              col("operator")))))
      .drop(geoAttrCols: _*)
  }

  /** T2: top users — resolver-desc top `k1`, then error-desc top `k2`.
    * DnsRptCH.scala:371-397. */
  def topUsers(df: DataFrame, k1: Int = 20000, k2: Int = 2000,
               minResolver: Long = 50): DataFrame = {
    val stage1 = TopK.global(userAgg(df, minResolver), k1,
      col("resolver").desc, col("clientIp").asc, col("domain").asc, col("aip").asc)
    TopK.global(stage1, k2,
      col("error").desc, col("clientIp").asc, col("domain").asc, col("aip").asc)
  }

  /** T3/T5 pattern: per-response-code top-K of `dim` by count
    * (all + per-client). DnsRptCH.scala:640-654 (domains, K=5000),
    * :707-741 (client IPs, K=500). */
  def perCodeTopK(df: DataFrame, dim: String, k: Int): DataFrame = {
    val counted = allAndPerClient(df, Seq(col("responseCode"), col(dim)))(
      Seq(count(lit(1)).as("cnt")))
    TopK.perGroup(counted, k, Seq(col("clientName"), col("responseCode")),
      Seq(col("cnt").desc, col(dim).asc))
  }

  /** A14/T6: per-user top-N domains as a RANK-ORDERED array-of-struct
    * column (collect_list alone has no order guarantee after the shuffle —
    * sort on the rank inside the array). UserRpt.scala:109-128. */
  def userDomainTopN(userDomainCounts: DataFrame, n: Int = 10): DataFrame =
    TopK.perGroup(userDomainCounts, n, Seq(col("userName")),
        Seq(col("cnt").desc, col("domain").asc))
      .groupBy(col("userName"))
      .agg(expr("transform(array_sort(collect_list(struct(rn, domain, cnt))), " +
        "x -> struct(x.domain AS domain, x.cnt AS cnt))").as("domains"))

  /** A15: per-user total resolves. UserRpt.scala:133-136. */
  def userTotals(userDomainCounts: DataFrame): DataFrame =
    userDomainCounts.groupBy(col("userName")).agg(sum(col("cnt")).as("resolver"))

  /** A16: distinct tag array per user from a domain→"a|b|c" tag dim.
    * UserRpt.scala:141-189. */
  def userTags(userDomains: DataFrame, tagDim: DataFrame): DataFrame =
    userDomains.select(col("userName"), col("domain")).distinct()
      .join(broadcast(tagDim), Seq("domain"), "left")
      .withColumn("tags", split(coalesce(col("tags"), lit("未知|未知|未知")), "\\|"))
      .groupBy(col("userName"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("tags"))))).as("tags"))
}
