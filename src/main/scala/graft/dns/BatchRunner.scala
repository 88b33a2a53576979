package graft.dns

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's per-window `call()` (DnsRptCH.scala:981-1161) as one pure
  * function: raw lines + dimension tables in, the six sink-table DataFrames
  * out. Batch and streaming (`foreachBatch`) call this, and a backfill is
  * this same function over a bounded input — the reference's three divergent
  * drivers (DnsRptCH / DnsRptOffline / UserRpt) collapse into one code path.
  *
  * The parsed fact set is persisted MEMORY_AND_DISK once and reused by every
  * report (reference parity: DnsRptCH.scala:1070); callers release it with
  * [[ReportSet.unpersist]] after the sinks are written.
  */
object BatchRunner {

  /** Dimension bundle (S4-S12, S15): all plain DataFrames, source-agnostic. */
  final case class DimTables(
      clientRules: DataFrame,   // (minIp, maxIp, clientTypeId)     J1
      businessRules: DataFrame, // (minIp, maxIp, resource_name/_type/_props) J2
      mediaRules: DataFrame,    // (minIp, maxIp)                   J3
      authDomains: DataFrame,   // (authorityDomain, attrs…)        J4
      whitelist: DataFrame,     // (domain)                         J8
      users: DataFrame,         // (clientIp, userName)             J6
      userInfo: DataFrame,      // (userName, address, phone)       J7
      geoDim: DataFrame)        // (minIp, maxIp, country, province, city, operator) J5/S15

  /** The six sink tables of one 5-minute window (SURVEY §2.2 K1 targets). */
  final case class ReportSet(
      facts: DataFrame,
      clear: DataFrame,        // per-window QPS + ratios (dns_flow_clear kin)
      trend: DataFrame,        // 8-dim trend agg        (dns_flow_trend kin)
      topDetail: DataFrame,    // top-70k detail         (dns_flow_top kin)
      ratios: DataFrame,       // type/code ratio union  (dns_flow_ratio kin)
      perCodeTop: DataFrame,   // per-code top-K domains (response_ratio kin)
      topUsers: DataFrame) {   // top users              (top_user kin)
    def all: Map[String, DataFrame] = Map(
      "clear" -> clear, "trend" -> trend, "top_detail" -> topDetail,
      "ratios" -> ratios, "per_code_top" -> perCodeTop, "top_users" -> topUsers)
    def unpersist(): Unit = { facts.unpersist(); () }
  }

  /** Parse + clean + enrich + compute every report for one window.
    *
    * @param lines          raw JSON log lines (one DNS response per line)
    * @param windowStartMs  epoch-ms window start (event-time filter P3)
    */
  def run(spark: SparkSession, lines: DataFrame, dims: DimTables,
          windowStartMs: Long, windowSec: Long = 300L,
          topDetailK: Int = 70000, perCodeK: Int = 5000,
          trendThreshold: Long = 100L,
          topUserMinResolver: Long = 50L): ReportSet = {
    val cleaned = Ingest.clean(spark, lines, windowStartMs, windowSec).toDF()
      .withColumn("authorityDomain",
        graft.functions.Functions.authority_domain(col("domain")))
    // Every enrichment below is shuffle-free on the fact side and has no
    // join operator: UDF probes of dim snapshots (interval and hash indexes,
    // graft.operators.DimSnapshot) only (plan-asserted in BatchRunnerSpec).
    val enriched = Dims.enrichAuthDomain(
      Dims.enrichInNet(spark,
        Dims.enrichClientName(cleaned, dims.clientRules),
        dims.mediaRules, dims.businessRules),
      dims.authDomains)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val stamp = lit(new java.sql.Timestamp(windowStartMs))
    def stamped(df: DataFrame): DataFrame = df.withColumn("accesstime", stamp)

    // The six reports are composed concurrently: given the persisted fact
    // set each report's build (catalyst analysis of its plan, plus the dim
    // snapshot builds on the first window of a dim version) is independent
    // of the others, so a window pays max(report build) instead of the sum.
    // A window whose dims are unchanged finds every snapshot built and
    // starts no Spark job while composing. Plans, rows and column order are
    // byte-identical to the sequential build; only the composition wall
    // changes.
    val Seq(clear, trend, topDetail, ratios, perCodeTop, topUsers) =
      graft.DriverPool.run(6)(Seq[() => DataFrame](
        () => stamped(Reports.qps(enriched, windowSec.toInt)),
        () => stamped(Reports.trendAgg(enriched, trendThreshold)),
        // the full dns_flow_top shape: top-K + Tuple2Es enrichment
        // (protocol strip, inNet, business attrs, auth-domain attrs, geo
        // counters) — every step a dim-snapshot probe over the K-sized top
        // set
        () => stamped(Reports.topDetailEnriched(spark,
          Reports.topDetail(enriched, dims.whitelist, topDetailK),
          dims.geoDim, dims.authDomains, dims.mediaRules,
          dims.businessRules)),
        () => stamped(
          Reports.requestTypeRatio(enriched).withColumn("kind", lit("request"))
            .unionByName(Reports.responseCodeRatio(enriched)
              .withColumnRenamed("responseCode", "requestType")
              .withColumn("requestType", col("requestType").cast("string"))
              .withColumn("kind", lit("code")))),
        () => stamped(Reports.perCodeTopK(enriched, "domain", perCodeK)),
        () => stamped(Reports.topUsers(
          Dims.enrichUser(enriched, dims.users, dims.userInfo),
          minResolver = topUserMinResolver))))
    ReportSet(enriched, clear, trend, topDetail, ratios, perCodeTop, topUsers)
  }
}
