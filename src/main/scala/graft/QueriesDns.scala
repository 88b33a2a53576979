package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.operators.{IntervalIndex, TopK}
import graft.functions.{Functions => F}
import graft.dns.{Dims, Reports}

/** Batch 3: the remaining SURVEY §2 report shapes (trend agg A6, rollups
  * A8-A11, geo enrichment J5/F7, per-user top-N arrays A14/T6, tag sets A16)
  * plus a sessionization showcase, all oracle-paired.
  */
object QueriesDns {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic raw DNS JSON lines synthesized from events.user_id —
    * shared by the ingest-chain (q66) and full-window (q67/q68) parity
    * queries; the oracles mirror the generation arithmetic directly. */
  private def rawDnsJson(events: DataFrame): DataFrame =
    events.select(expr("""to_json(named_struct(
        'Type', element_at(array('A','A','MX','AAAA'), CAST(user_id % 4 + 1 AS INT)),
        'ResponseCode', CASE WHEN user_id % 11 = 0 THEN CAST(NULL AS INT)
                             ELSE CAST(user_id % 4 AS INT) END,
        'Domain', CASE WHEN user_id % 17 = 0 THEN 'host.localdomain'
                       ELSE concat('www.d', CAST(user_id % 30 AS STRING), '.com') END,
        'ServerIP', concat('218.0.0.', CAST(user_id % 3 AS STRING)),
        'ClientIP', concat('10.0.0.', CAST(user_id % 7 AS STRING)),
        'Timestamp', CAST(1616631000000 + (user_id % 600) * 1000 AS BIGINT),
        'QR', user_id % 13 != 0,
        'Answers', CASE CAST(user_id % 5 AS INT)
          WHEN 0 THEN CAST(array() AS ARRAY<STRUCT<Type: STRING, Value: STRING>>)
          WHEN 1 THEN array(named_struct('Type', 'CNAME', 'Value', 'c.example'),
                            named_struct('Type', 'A', 'Value', '1.2.3.4'))
          WHEN 2 THEN array(named_struct('Type', 'A', 'Value', '5.6.7.8'),
                            named_struct('Type', 'A', 'Value', '9.9.9.9'),
                            named_struct('Type', 'CNAME', 'Value', 'x'))
          WHEN 3 THEN array(named_struct('Type', 'CNAME', 'Value', 'y'))
          ELSE array(named_struct('Type', 'A', 'Value', '8.8.4.4'))
        END)) AS value"""))

  /** Dimension bundle for the q67-q71/q75 full-window parity queries:
    * client-IP rules over 10.0.0.{0-6} (types 1/2, default 5), inNet =
    * {1.2.3.4 (biz, attrs resA/tA/pA), 5.6.7.8 (media)}, auth-domain attrs
    * for every third dN.com, and a geo dim covering the three real answer
    * IPs (0.0.0.0 deliberately outside it). */
  private def windowDims(s: SparkSession): graft.dns.BatchRunner.DimTables = {
    import s.implicits._
    val base = 167772160L // ip_to_long("10.0.0.0")
    graft.dns.BatchRunner.DimTables(
      clientRules = Seq((base, base + 2, 1), (base + 3, base + 4, 2))
        .toDF("min_long_ip", "max_long_ip", "client_type_id"),
      businessRules = Seq((16909060L, 16909060L, "resA", "tA", "pA")) // 1.2.3.4
        .toDF("min_long_ip", "max_long_ip",
          "resource_name", "resource_type", "resource_props"),
      mediaRules = Seq((84281096L, 84281096L))
        .toDF("min_long_ip", "max_long_ip"), // 5.6.7.8
      authDomains = (0 until 30 by 3).map(n =>
          (s"d$n.com", s"cn$n", "ct", s"wn$n", "wt", s"sf$n"))
        .toDF("authorityDomain", "companyName", "companyType",
          "websiteName", "websiteType", "soft"),
      whitelist = Seq("www.d0.com").toDF("domain"),
      users = Seq(("10.0.0.1", "u1")).toDF("clientIp", "userName"),
      userInfo = Seq(("u1", "a", "p")).toDF("userName", "address", "phone"),
      geoDim = Seq(
          (16909060L, 16909060L, "中国", "P1", "C1", "中国电信"),   // 1.2.3.4
          (84281096L, 84281096L, "US", "P2", "P2", "中国联通"),     // 5.6.7.8
          (134743044L, 134743044L, "中国", "香港", "香港", "移动")) // 8.8.4.4 → gat, not abroad
        .toDF("min_long_ip", "max_long_ip", "country", "province", "city",
          "operator"))
  }

  /** Bench support: materialize the synthesized raw JSON window to parquet.
    * This is FIXTURE cost (the to_json round-trip exists only in the bench),
    * timed separately from the engine (BENCH q68_synth vs q68_pipeline —
    * the r2 headline billed both to one number; VERDICT r2 #6). */
  def synthesizeRawWindow(s: SparkSession, dir: String, outPath: String): Unit =
    // ~30 files = the reference's window layout (one per 10 s, BASELINE.md)
    // AND the scan parallelism a real window has — one monolithic file would
    // bottleneck the parse stage on a single task (r5 finding: cpu/wall ~2
    // on a 32-thread host)
    rawDnsJson(T(s, dir, "events")).repartition(30)
      .write.mode("overwrite").parquet(outPath)

  /** Bench support: one full window cycle (parse → clean → enrich → all six
    * reports) from pre-materialized raw lines; counts the trend sink and
    * releases the persisted fact set. */
  def runWindowFromRaw(s: SparkSession, rawPath: String): Unit = {
    val rs = graft.dns.BatchRunner.run(s, s.read.parquet(rawPath),
      windowDims(s), 1616631000000L, trendThreshold = 10L)
    try rs.trend.count() finally rs.unpersist()
  }

  /** Bench support: the SAME window cycle through Structured Streaming —
    * a file-source `readStream` over the 30-file raw fixture driving
    * [[graft.dns.BatchRunner]] inside one `foreachBatch` epoch
    * (Trigger.AvailableNow), i.e. the production S3 scheduling path rather
    * than a direct batch call. Benched as `q68_stream` so regressions in
    * the streaming scaffolding (source listing, epoch planning, sink
    * commit) surface round over round; the delta vs `q68_pipeline` is the
    * streaming machinery's own cost. */
  def runWindowStreaming(s: SparkSession, rawPath: String): Unit = {
    val schema = s.read.parquet(rawPath).schema
    val trendCount = new java.util.concurrent.atomic.AtomicLong(-1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-ck").toString
    val q = s.readStream.schema(schema).parquet(rawPath)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rs = graft.dns.BatchRunner.run(s, b, windowDims(s),
          1616631000000L, trendThreshold = 10L)
        try trendCount.set(rs.trend.count()) finally rs.unpersist()
        ()
      }.start()
    q.awaitTermination()
    require(trendCount.get() > 0, "streaming window produced no trend rows")
  }

  /** The q66/q67/q68 oracle's shared kept-row CTE (mirrors [[rawDnsJson]]
    * through Ingest.clean's P1-P7 semantics). */
  private val keptRowsSql: String = """
      WITH d AS (SELECT user_id,
          (['A','A','MX','AAAA'])[CAST(user_id % 4 + 1 AS INT)] AS request_type,
          CAST(user_id % 4 AS INT) AS rcode,
          'www.d' || CAST(user_id % 30 AS VARCHAR) || '.com' AS domain,
          '218.0.0.' || CAST(user_id % 3 AS VARCHAR) AS dns_ip,
          '10.0.0.' || CAST(user_id % 7 AS VARCHAR) AS client_ip,
          CAST(1616631000000 + (user_id % 600) * 1000 AS BIGINT) AS ts_ms,
          CAST(user_id % 5 AS INT) AS ac,
          CAST(user_id % 7 AS INT) AS k
        FROM events
        WHERE user_id % 13 <> 0
          AND user_id % 11 <> 0
          AND user_id % 17 <> 0
          AND user_id % 600 < 300),
      f AS (SELECT *,
          CASE WHEN request_type = 'A' AND ac IN (1, 2, 4)
               THEN CASE ac WHEN 1 THEN '1.2.3.4' WHEN 2 THEN '5.6.7.8' ELSE '8.8.4.4' END
               ELSE '0.0.0.0' END AS aip,
          CASE WHEN request_type = 'A' AND ac <> 0
               THEN CASE ac WHEN 1 THEN 'A' WHEN 2 THEN 'CNAME' WHEN 3 THEN 'CNAME' ELSE 'A' END
               ELSE 'other' END AS response_type
        FROM d),
      kept AS (SELECT *,
          CAST(CASE WHEN rcode <> 0 OR ac = 0 OR aip = '0.0.0.0' THEN 1 ELSE 0 END AS BIGINT) AS error,
          CASE WHEN k <= 2 THEN 1 WHEN k IN (3, 4) THEN 2 ELSE 5 END AS client_name
        FROM f)"""

  val all: Vector[QueryDef] = Vector(

    // -- A6: multi-dim trend aggregate with HAVING ---------------------------
    QueryDef("q39_trend_agg_having", Some("""
      SELECT p.p_brand, p.p_type, l.l_returnflag,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS BIGINT) AS resolver,
             CAST(sum(CASE WHEN l.l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS discounted,
             count(*) AS cnt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2, 3 HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 100
      ORDER BY p_brand, p_type, l_returnflag"""),
      (s, dir) => T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("l_returnflag"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("resolver"),
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("discounted"),
          count(lit(1)).as("cnt"))
        .filter(col("resolver") > 100)
        .orderBy(col("p_brand"), col("p_type"), col("l_returnflag"))),

    // -- A8: business rollup through a snowflaked dim chain ------------------
    QueryDef("q40_business_rollup", Some("""
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             count(*) AS orders_cnt
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2 ORDER BY region, nation"""),
      (s, dir) => T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("orders_cnt"))
        .orderBy(col("region"), col("nation"))),

    // -- A9-A11: single-dimension counts, all + per-client -------------------
    QueryDef("q41_dim_counts", Some("""
      SELECT CAST(0 AS BIGINT) AS client_id, n.n_name AS dim, count(*) AS sample_num
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY 2
      UNION ALL
      SELECT s.s_suppkey % 3 + 1 AS client_id, n.n_name AS dim, count(*) AS sample_num
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY 1, 2
      ORDER BY client_id, dim"""),
      (s, dir) => {
        val j = T(s, dir, "supplier")
          .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        val allRows = j.groupBy(col("n_name").as("dim"))
          .agg(count(lit(1)).as("sample_num"))
          .select(lit(0L).as("client_id"), col("dim"), col("sample_num"))
        val per = j.withColumn("client_id", col("s_suppkey") % 3 + 1)
          .groupBy(col("client_id"), col("n_name").as("dim"))
          .agg(count(lit(1)).as("sample_num"))
        allRows.unionByName(per).orderBy(col("client_id"), col("dim"))
      }),

    // -- J5/F7/P9: geo enrichment via the broadcast O(log n) interval index --
    // The index is built from DISJOINT intervals derived from nation; the
    // oracle reproduces it as a plain range join (same result, different
    // algorithm — that's the point).
    QueryDef("q42_geo_interval_index", Some("""
      SELECT coalesce(n.n_name, 'unknown') AS province, count(*) AS cnt,
             CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
      FROM events e LEFT JOIN nation n
        ON e.user_id BETWEEN n.n_nationkey*5 AND n.n_nationkey*5+4
      GROUP BY 1 ORDER BY province"""),
      (s, dir) => {
        // disjoint intervals [5k, 5k+4] → n_name
        val k = col("n_nationkey").cast("long")
        val nameDim = T(s, dir, "nation")
          .select((k * 5).as("lo"), (k * 5 + 4).as("hi"), col("n_name"))
        IntervalIndex.enrichAuto(s, T(s, dir, "events"), col("user_id"),
            nameDim, "lo", "hi", "lo", lastWins = false)
          .groupBy(coalesce(col("n_name"), lit("unknown")).as("province"))
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
          .orderBy(col("province"))
      }),

    // -- A14/T6: per-user top-N as an ordered '|'-joined string --------------
    // (rendered as a string, not array<string>: the driver's pandas compare
    // cannot sort/hash list-typed columns — see VERDICT r1 "What's wrong" #1)
    QueryDef("q43_user_top_domains", Some("""
      WITH c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY cnt DESC, event_type) AS rn FROM c)
      SELECT user_id, string_agg(event_type, '|' ORDER BY rn) AS top_types
      FROM r WHERE rn <= 3 GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        val c = T(s, dir, "events").groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val ranked = TopK.perGroup(c, 3, Seq(col("user_id")),
          Seq(col("cnt").desc, col("event_type").asc))
        // sort_array on (rn, type) structs → deterministic order, then join
        ranked.groupBy(col("user_id"))
          .agg(concat_ws("|",
            expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"))
            .as("top_types"))
          .orderBy(col("user_id"))
      }),

    // -- A16: distinct tag set per user from a domain→tags dim ---------------
    QueryDef("q44_user_tags", Some("""
      WITH tags AS (SELECT 'signup' AS event_type, 'growth|funnel' AS tags
                    UNION ALL SELECT 'purchase', 'revenue|funnel'
                    UNION ALL SELECT 'error', 'ops|alert'),
      ud AS (SELECT DISTINCT e.user_id, e.event_type FROM events e)
      SELECT user_id,
             array_to_string(list_sort(list_distinct(flatten(list(string_split(coalesce(t.tags, 'unknown'), '|'))))), '|') AS tag_set
      FROM ud LEFT JOIN tags t USING (event_type)
      GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        import s.implicits._
        val tagDim = Seq(("signup", "growth|funnel"), ("purchase", "revenue|funnel"),
          ("error", "ops|alert")).toDF("event_type", "tags")
        T(s, dir, "events").select(col("user_id"), col("event_type")).distinct()
          .join(broadcast(tagDim), Seq("event_type"), "left")
          .withColumn("tag_arr", split(coalesce(col("tags"), lit("unknown")), "\\|"))
          .groupBy(col("user_id"))
          .agg(concat_ws("|",
            array_sort(array_distinct(flatten(collect_list(col("tag_arr")))))).as("tag_set"))
          .orderBy(col("user_id"))
      }),

    // -- beyond-reference: gap-based sessionization (stateful analytics) -----
    QueryDef("q45_sessionize", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS es FROM events),
      g AS (SELECT *, CASE WHEN es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
                                > 1800 OR lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) IS NULL
                           THEN 1 ELSE 0 END AS new_session
            FROM e),
      s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM g)
      SELECT user_id, session_id, count(*) AS events_in_session,
             CAST(max(es) - min(es) AS BIGINT) AS duration_sec
      FROM s GROUP BY 1, 2 ORDER BY user_id, session_id"""),
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), expr("unix_micros(ts) div 1000000").as("es"))
          .withColumn("prev", lag(col("es"), 1).over(w))
          .withColumn("new_session",
            when(col("prev").isNull || col("es") - col("prev") > 1800, 1).otherwise(0))
          .withColumn("session_id",
            sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("long"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("events_in_session"),
            (max(col("es")) - min(col("es"))).cast("long").as("duration_sec"))
          .orderBy(col("user_id"), col("session_id"))
      }),

    // -- T1 FULL: top-detail + Tuple2Es enrichment (DnsRptCH.scala:204-291) --
    // The complete dns_flow_top row shape: whitelist boost/unboost + top-K,
    // then protocol strip, authority domain, inNet membership, business
    // resource attrs (last match wins over OVERLAPPING ranges), auth-domain
    // company attrs (companyType/websiteType default 未知, rest null), and
    // the geo-derived abroad/telecom/link/gat counters + aIpAddr concat.
    QueryDef("q60_top_detail_enriched", Some(s"""
      WITH fact0 AS (
        SELECT user_id % 5 AS client_name,
               (CASE WHEN user_id % 9 = 0 THEN 'http://' ELSE '' END) ||
                 'www.site' || CAST(user_id % 40 AS VARCHAR) || '.com' AS domain,
               '218.108.248.' || CAST(user_id % 4 AS VARCHAR) AS dns_ip,
               '10.' || CAST(user_id % 200 AS VARCHAR) || '.0.1' AS aip,
               CAST(167772160 + (user_id % 200)*65536 + 1 AS BIGINT) AS ipl,
               1 AS resolver,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS error
        FROM events),
      base AS (SELECT client_name, domain, dns_ip, aip, ipl,
                      CAST(sum(resolver) AS BIGINT) AS resolver,
                      CAST(sum(error) AS BIGINT) AS error
               FROM fact0 GROUP BY 1, 2, 3, 4, 5),
      wl AS (SELECT 'www.site' || CAST(k*10 AS VARCHAR) || '.com' AS domain
             FROM range(0, 4) t(k)),
      boosted AS (SELECT b.*, (w.domain IS NOT NULL) AS is_wl,
                         b.resolver + CASE WHEN w.domain IS NOT NULL THEN 10 ELSE 0 END AS bres
                  FROM base b LEFT JOIN wl w USING (domain)),
      top AS (SELECT * FROM boosted WHERE bres >= 3
              ORDER BY bres DESC, domain, client_name, dns_ip, aip LIMIT 300),
      unb AS (SELECT client_name, dns_ip, aip, ipl,
                     CAST(bres - CASE WHEN is_wl THEN 10 ELSE 0 END AS BIGINT) AS resolver,
                     error, domain AS raw_domain,
                     regexp_replace(domain, '^https?://', '') AS domain
              FROM top),
      au AS (SELECT *, CASE WHEN length(regexp_extract(domain, '${F.authorityDomainRegex}', 1)) > 0
                            THEN regexp_extract(domain, '${F.authorityDomainRegex}', 1)
                            ELSE domain END AS authority_domain FROM unb),
      media AS (SELECT CAST(167772160 AS BIGINT) AS lo,
                       CAST(167772160 + 50*65536 - 1 AS BIGINT) AS hi),
      biz AS (SELECT * FROM (VALUES
        (CAST(167772160 + 30*65536 AS BIGINT), CAST(167772160 + 120*65536 - 1 AS BIGINT), 'resA', 'tA', 'pA'),
        (CAST(167772160 + 100*65536 AS BIGINT), CAST(167772160 + 160*65536 - 1 AS BIGINT), 'resB', 'tB', 'pB'))
        AS v(lo, hi, resource_name, resource_type, resource_props)),
      innet AS (SELECT a.*,
                  CASE WHEN EXISTS (SELECT 1 FROM media m WHERE a.ipl BETWEEN m.lo AND m.hi)
                         OR EXISTS (SELECT 1 FROM biz b WHERE a.ipl BETWEEN b.lo AND b.hi)
                       THEN a.resolver ELSE 0 END AS in_net FROM au a),
      -- partition by the PRE-strip domain: after protocol strip two distinct
      -- top rows can share (client_name, domain, dns_ip, aip), and the
      -- reference maps top rows independently — the window must only pick
      -- the last-match biz rule per row, never collapse rows
      bizr AS (SELECT i.*, b.resource_name AS rn0, b.resource_type AS rt0, b.resource_props AS rp0,
                      row_number() OVER (PARTITION BY i.client_name, i.raw_domain, i.dns_ip, i.aip
                                         ORDER BY b.lo DESC) AS rn
               FROM innet i LEFT JOIN biz b ON i.ipl BETWEEN b.lo AND b.hi),
      bizj AS (SELECT * EXCLUDE (rn0, rt0, rp0, rn),
                      coalesce(rn0, '未知') AS resource_name,
                      coalesce(rt0, '未知') AS resource_type,
                      coalesce(rp0, '未知') AS resource_props
               FROM bizr WHERE rn = 1),
      auth AS (SELECT 'site' || CAST(k*3 AS VARCHAR) || '.com' AS authority_domain,
                      'wn' || CAST(k*3 AS VARCHAR) AS website_name,
                      'cc' || CAST(k*3 AS VARCHAR) AS credit_code,
                      'ct' || CAST(k*3 AS VARCHAR) AS company_type,
                      'cn' || CAST(k*3 AS VARCHAR) AS company_name,
                      'ca' || CAST(k*3 AS VARCHAR) AS company_addr,
                      'or' || CAST(k*3 AS VARCHAR) AS on_record,
                      'wt' || CAST(k*3 AS VARCHAR) AS website_type,
                      'sf' || CAST(k*3 AS VARCHAR) AS soft
               FROM range(0, 14) t(k)),
      authj AS (SELECT b.*, a.website_name, a.credit_code,
                       coalesce(a.company_type, '未知') AS company_type,
                       a.company_name, a.company_addr, a.on_record,
                       coalesce(a.website_type, '未知') AS website_type, a.soft
                FROM bizj b LEFT JOIN auth a USING (authority_domain)),
      geo AS (SELECT CAST(167772160 + (10*g)*65536 AS BIGINT) AS lo,
                     CAST(167772160 + (10*g+8)*65536 - 1 AS BIGINT) AS hi,
                     CASE WHEN g % 4 = 3 THEN 'US' ELSE '中国' END AS country,
                     (['中国电信', '中国联通', '移动'])[CAST(g % 3 + 1 AS INT)] AS operator,
                     CASE WHEN g % 5 = 0 THEN '香港' ELSE 'P' || CAST(g AS VARCHAR) END AS province,
                     CASE WHEN g % 2 = 0
                          THEN (CASE WHEN g % 5 = 0 THEN '香港' ELSE 'P' || CAST(g AS VARCHAR) END)
                          ELSE 'C' || CAST(g AS VARCHAR) END AS city
              FROM range(0, 20) t(g)),
      geoj AS (SELECT a.*, g.country, g.operator, g.province, g.city
               FROM authj a LEFT JOIN geo g ON a.ipl BETWEEN g.lo AND g.hi)
      SELECT client_name, domain, authority_domain, dns_ip, aip, resolver, error, in_net,
             coalesce(website_name, '') AS website_name, coalesce(credit_code, '') AS credit_code,
             company_type, coalesce(company_name, '') AS company_name,
             coalesce(company_addr, '') AS company_addr, coalesce(on_record, '') AS on_record,
             website_type, coalesce(soft, '') AS soft,
             resource_name, resource_type, resource_props,
             CAST(CASE WHEN country IS NOT NULL AND country <> '中国' THEN resolver ELSE 0 END AS BIGINT) AS abroad_num,
             CAST(CASE WHEN operator LIKE '%电信%' THEN resolver ELSE 0 END AS BIGINT) AS telecom_num,
             CAST(CASE WHEN operator LIKE '%联通%' THEN resolver ELSE 0 END AS BIGINT) AS link_num,
             CAST(CASE WHEN province LIKE '%香港%' OR province LIKE '%澳门%' OR province LIKE '%台湾%'
                  THEN resolver ELSE 0 END AS BIGINT) AS gat_num,
             coalesce(CASE WHEN country IS NOT NULL
                  THEN country || (CASE WHEN city = province THEN province ELSE province || city END) || operator
                  END, '') AS a_ip_addr
      FROM geoj ORDER BY client_name, domain, dns_ip, aip"""),
      (s, dir) => {
        import s.implicits._
        val fact = T(s, dir, "events").select(
          (col("user_id") % 5).as("clientName"),
          concat(when(col("user_id") % 9 === 0, lit("http://")).otherwise(lit("")),
            lit("www.site"), (col("user_id") % 40).cast("string"), lit(".com")).as("domain"),
          concat(lit("218.108.248."), (col("user_id") % 4).cast("string")).as("dnsIp"),
          concat(lit("10."), (col("user_id") % 200).cast("string"), lit(".0.1")).as("aip"),
          lit(1L).as("resolver"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("error"))
        val whitelist = (0 until 40 by 10).map(k => s"www.site$k.com").toDF("domain")
        val top = Reports.topDetail(fact, whitelist, k = 300, minResolver = 3, boostAmt = 10)
        val ipb = 167772160L
        val media = Seq((ipb, ipb + 50L * 65536 - 1)).toDF("min_long_ip", "max_long_ip")
        val biz = Seq(
          (ipb + 30L * 65536, ipb + 120L * 65536 - 1, "resA", "tA", "pA"),
          (ipb + 100L * 65536, ipb + 160L * 65536 - 1, "resB", "tB", "pB"))
          .toDF("min_long_ip", "max_long_ip", "resource_name", "resource_type", "resource_props")
        val auth = (0 until 40 by 3).map(k =>
            (s"site$k.com", s"wn$k", s"cc$k", s"ct$k", s"cn$k", s"ca$k", s"or$k", s"wt$k", s"sf$k"))
          .toDF("authorityDomain", "websiteName", "creditCode", "companyType",
            "companyName", "companyAddr", "onRecord", "websiteType", "soft")
        val geo = (0 until 20).map { g =>
          val province = if (g % 5 == 0) "香港" else s"P$g"
          (ipb + 10L * g * 65536, ipb + (10L * g + 8) * 65536 - 1,
            if (g % 4 == 3) "US" else "中国",
            Seq("中国电信", "中国联通", "移动")(g % 3),
            province,
            if (g % 2 == 0) province else s"C$g")
        }.toDF("min_long_ip", "max_long_ip", "country", "operator", "province", "city")
        // reference parity keeps the non-type attrs null on miss; the ORACLE
        // projection coalesces them to '' because the driver's pandas compare
        // cannot sort None against str — pure rendering, not semantics.
        Reports.topDetailEnriched(s, top, geo, auth, media, biz)
          .select(col("clientName").as("client_name"), col("domain"),
            col("authorityDomain").as("authority_domain"), col("dnsIp").as("dns_ip"),
            col("aip"), col("resolver"), col("error"), col("inNet").as("in_net"),
            coalesce(col("websiteName"), lit("")).as("website_name"),
            coalesce(col("creditCode"), lit("")).as("credit_code"),
            col("companyType").as("company_type"),
            coalesce(col("companyName"), lit("")).as("company_name"),
            coalesce(col("companyAddr"), lit("")).as("company_addr"),
            coalesce(col("onRecord"), lit("")).as("on_record"),
            col("websiteType").as("website_type"),
            coalesce(col("soft"), lit("")).as("soft"),
            col("resourceName").as("resource_name"), col("resourceType").as("resource_type"),
            col("resourceProps").as("resource_props"),
            col("abroadNum").as("abroad_num"), col("telecomNum").as("telecom_num"),
            col("linkNum").as("link_num"), col("gatNum").as("gat_num"),
            coalesce(col("aIpAddr"), lit("")).as("a_ip_addr"))
          .orderBy(col("client_name"), col("domain"), col("dns_ip"), col("aip"))
      }),

    // -- F7 full: 11-attribute geo_region struct (IpSearch.java:188-209) -----
    QueryDef("q61_geo_region_full", Some("""
      WITH geo AS (SELECT CAST(10*g AS BIGINT) AS lo, CAST(10*g+7 AS BIGINT) AS hi,
             (['Asia','Europe','NA','SA','Africa','Oceania'])[CAST(g % 6 + 1 AS INT)] AS continent,
             'C' || CAST(g % 9 AS VARCHAR) AS country, 'P' || CAST(g % 5 AS VARCHAR) AS province,
             'CT' || CAST(g AS VARCHAR) AS city, 'D' || CAST(g AS VARCHAR) AS district,
             (['电信','联通','移动'])[CAST(g % 3 + 1 AS INT)] AS operator,
             CAST(100000 + g AS BIGINT) AS admin_code, 'E' || CAST(g AS VARCHAR) AS en_name,
             'ISO' || CAST(g % 9 AS VARCHAR) AS iso_code,
             73.0 + g*2.5 AS lon, 18.0 + g*1.5 AS lat
           FROM range(0, 30) t(g)),
      f AS (SELECT user_id % 300 AS pt FROM events),
      j AS (SELECT f.pt, g.* FROM f LEFT JOIN geo g ON f.pt BETWEEN g.lo AND g.hi)
      SELECT coalesce(continent, '未知') AS continent, coalesce(country, '未知') AS country,
             coalesce(province, '未知') AS province, coalesce(city, '未知') AS city,
             coalesce(district, '未知') AS district, coalesce(operator, '未知') AS operator,
             coalesce(admin_code, -1) AS admin_code, coalesce(en_name, '未知') AS en_name,
             coalesce(iso_code, '未知') AS iso_code,
             CAST(floor(coalesce(lon, 0) * 10000 + 0.5) AS BIGINT) AS lon_u,
             CAST(floor(coalesce(lat, 0) * 10000 + 0.5) AS BIGINT) AS lat_u,
             count(*) AS cnt
      FROM j GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11
      ORDER BY continent, country, province, city, admin_code"""),
      (s, dir) => {
        import s.implicits._
        val geo = (0 until 30).map { g =>
          (10L * g, 10L * g + 7,
            Seq("Asia", "Europe", "NA", "SA", "Africa", "Oceania")(g % 6),
            "C" + (g % 9), "P" + (g % 5), "CT" + g, "D" + g,
            Seq("电信", "联通", "移动")(g % 3), 100000L + g, "E" + g, "ISO" + (g % 9),
            73.0 + g * 2.5, 18.0 + g * 1.5)
        }.toDF("min_long_ip", "max_long_ip", "continent", "country", "province", "city",
          "district", "operator", "admin_code", "en_name", "iso_code", "lon", "lat")
        val fact = T(s, dir, "events").select((col("user_id") % 300).as("pt"))
        Dims.enrichGeo(s, fact, geo, col("pt"))
          .withColumn("geo_region", Dims.geoRegionStruct)
          .select(col("pt"), col("geo_region.*"))
          .groupBy(
            coalesce(col("continent"), lit("未知")).as("continent"),
            coalesce(col("country"), lit("未知")).as("country"),
            coalesce(col("province"), lit("未知")).as("province"),
            coalesce(col("city"), lit("未知")).as("city"),
            coalesce(col("district"), lit("未知")).as("district"),
            coalesce(col("operator"), lit("未知")).as("operator"),
            coalesce(col("admin_code"), lit(-1L)).as("admin_code"),
            coalesce(col("en_name"), lit("未知")).as("en_name"),
            coalesce(col("iso_code"), lit("未知")).as("iso_code"),
            floor(coalesce(col("lon"), lit(0.0)) * 10000 + 0.5).as("lon_u"),
            floor(coalesce(col("lat"), lit(0.0)) * 10000 + 0.5).as("lat_u"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("continent"), col("country"), col("province"), col("city"),
            col("admin_code"))
      }),

    // -- P2: garbage-domain filter, quirk verbatim (DnsRptCH.scala:879-887) --
    // Eight synthesized domain classes: empty, bad-token hits, the DHCP
    // contains+endsWith pair (dropped) vs contains-only (KEPT — the
    // reference's exact quirk), and clean.
    QueryDef("q65_garbage_filter", Some("""
      WITH d AS (SELECT p_partkey,
        CASE CAST(p_partkey % 8 AS INT)
          WHEN 0 THEN ''
          WHEN 1 THEN nm || 'HOST'
          WHEN 2 THEN nm || 'DHCP'
          WHEN 3 THEN 'DHCP' || nm
          WHEN 4 THEN nm || '.localdomain'
          WHEN 5 THEN 'master01' || nm
          WHEN 6 THEN nm || ' x'
          ELSE nm END AS domain
        FROM (SELECT p_partkey, lower(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g')) AS nm
              FROM part))
      SELECT p_partkey, domain FROM d
      WHERE length(domain) > 0
        AND NOT contains(domain, 'master01') AND NOT contains(domain, '.localdomain')
        AND NOT contains(domain, ' ') AND NOT contains(domain, 'HOST')
        AND NOT contains(domain, 'Relteak') AND NOT contains(domain, 'getCached')
        AND NOT contains(domain, 'BlinkAP')
        AND NOT (contains(domain, 'DHCP') AND ends_with(domain, 'DHCP'))
      ORDER BY p_partkey"""),
      (s, dir) => {
        val nm = lower(regexp_replace(col("p_name"), "[^a-zA-Z0-9]", ""))
        val domain = element_at(array(
          lit(""), concat(nm, lit("HOST")), concat(nm, lit("DHCP")),
          concat(lit("DHCP"), nm), concat(nm, lit(".localdomain")),
          concat(lit("master01"), nm), concat(nm, lit(" x")), nm),
          (col("p_partkey") % 8 + 1).cast("int"))
        T(s, dir, "part").select(col("p_partkey"), domain.as("domain"))
          .filter(graft.dns.Ingest.garbageDomainFilter(col("domain")))
          .orderBy(col("p_partkey"))
      }),

    // -- P1-P7 end to end: raw JSON lines → Ingest.clean, oracle mirrors the
    // SEMANTICS directly (QR filter, garbage domain, window, null-rcode drop,
    // first-A aip, last-answer responseType, error derivation). The Spark
    // side does a real from_json round-trip; the JSON itself is synthesized
    // deterministically from events.user_id on both engines.
    QueryDef("q66_ingest_chain", Some(s"""$keptRowsSql
      SELECT request_type, rcode AS response_code, domain, dns_ip, client_ip, ts_ms,
             aip, response_type, error,
             CAST(1 AS BIGINT) AS resolver, CAST(5 AS INT) AS client_name
      FROM kept
      ORDER BY ts_ms, client_ip, domain, request_type, response_code, aip"""),
      (s, dir) => {
        graft.dns.Ingest.clean(s, rawDnsJson(T(s, dir, "events")), 1616631000000L).toDF()
          .select(col("requestType").as("request_type"),
            col("responseCode").as("response_code"), col("domain"),
            col("dnsIp").as("dns_ip"), col("clientIp").as("client_ip"),
            unix_millis(col("ts")).as("ts_ms"), col("aip"),
            col("responseType").as("response_type"),
            col("error"), col("resolver"), col("clientName").as("client_name"))
          .orderBy(col("ts_ms"), col("client_ip"), col("domain"),
            col("request_type"), col("response_code"), col("aip"))
      }),

    // -- Full-window parity 1/2: BatchRunner.run end to end → the `clear`
    // (QPS) sink table, raw JSON lines + client-IP rule dim in, all-clients
    // row (client_name=0) plus per-client rows out (DnsRptCH.scala:981-1161).
    QueryDef("q67_batch_window_clear", Some(s"""$keptRowsSql,
      g AS (SELECT client_name, count(*) AS sample_num,
                   CAST(sum(error) AS BIGINT) AS error_num
            FROM kept GROUP BY 1)
      SELECT CAST(0 AS INT) AS client_name, count(*) AS sample_num,
             CAST(sum(error) AS BIGINT) AS error_num,
             CAST(floor(count(*) / 300) AS BIGINT) AS avg_num,
             CAST(1616631000000 AS BIGINT) AS accesstime_ms
      FROM kept
      UNION ALL
      SELECT CAST(client_name AS INT), sample_num, error_num,
             CAST(floor(sample_num / 300) AS BIGINT) AS avg_num,
             CAST(1616631000000 AS BIGINT) AS accesstime_ms
      FROM g
      ORDER BY client_name"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L)
        rs.clear.select(col("clientName").cast("int").as("client_name"),
            col("sampleNum").as("sample_num"), col("errorNum").as("error_num"),
            col("avgNum").as("avg_num"),
            unix_millis(col("accesstime")).as("accesstime_ms"))
          .orderBy(col("client_name"))
      }),

    // -- Full-window parity 2/2: the `trend` sink table (A6 8-dim aggregate
    // with auth-domain company attrs, inNet membership and HAVING) ----------
    QueryDef("q68_batch_window_trend", Some(s"""$keptRowsSql,
      au AS (SELECT *, CASE WHEN length(regexp_extract(domain, '${F.authorityDomainRegex}', 1)) > 0
                            THEN regexp_extract(domain, '${F.authorityDomainRegex}', 1)
                            ELSE domain END AS authority_domain FROM kept),
      auth AS (SELECT 'd' || CAST(n*3 AS VARCHAR) || '.com' AS authority_domain,
                      'cn' || CAST(n*3 AS VARCHAR) AS company_name, 'ct' AS company_type,
                      'wn' || CAST(n*3 AS VARCHAR) AS website_name, 'wt' AS website_type,
                      'sf' || CAST(n*3 AS VARCHAR) AS soft
               FROM range(0, 10) t(n)),
      e AS (SELECT k.client_name, k.domain, k.aip, k.authority_domain, k.error,
                   coalesce(a.company_name, '未知') AS company_name,
                   coalesce(a.soft, '未知') AS soft,
                   coalesce(a.website_name, '未知') AS website_name,
                   coalesce(a.website_type, '未知') AS website_type,
                   CASE WHEN k.aip IN ('1.2.3.4', '5.6.7.8') THEN 1 ELSE 0 END AS in_net
            FROM au k LEFT JOIN auth a USING (authority_domain))
      SELECT CAST(client_name AS INT) AS client_name, domain, aip, company_name,
             authority_domain, soft, website_name, website_type,
             CAST(count(*) AS BIGINT) AS resolver,
             CAST(sum(in_net) AS BIGINT) AS in_net,
             CAST(sum(error) AS BIGINT) AS error
      FROM e
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 HAVING count(*) > 10
      ORDER BY client_name, domain, aip"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L, trendThreshold = 10L)
        rs.trend.select(col("clientName").cast("int").as("client_name"),
            col("domain"), col("aip"), col("companyName").as("company_name"),
            col("authorityDomain").as("authority_domain"), col("soft"),
            col("websiteName").as("website_name"), col("websiteType").as("website_type"),
            col("resolver"), col("inNet").as("in_net"), col("error"))
          .orderBy(col("client_name"), col("domain"), col("aip"))
      }),

    // -- Full-window parity 3/5: the `ratios` sink table (request-type and
    // response-code ratio union with the kind tag, all + per-client) --------
    QueryDef("q69_batch_window_ratios", Some(s"""$keptRowsSql,
      r1 AS (SELECT CAST(0 AS INT) AS client_name, request_type, count(*) AS sample_num
             FROM kept GROUP BY 2
             UNION ALL
             SELECT CAST(client_name AS INT), request_type, count(*) FROM kept GROUP BY 1, 2),
      r2 AS (SELECT CAST(0 AS INT) AS client_name, CAST(rcode AS VARCHAR) AS request_type,
                    count(*) AS sample_num
             FROM kept GROUP BY 2
             UNION ALL
             SELECT CAST(client_name AS INT), CAST(rcode AS VARCHAR), count(*) FROM kept GROUP BY 1, 2)
      SELECT client_name, request_type, sample_num, 'request' AS kind,
             CAST(1616631000000 AS BIGINT) AS accesstime_ms FROM r1
      UNION ALL
      SELECT client_name, request_type, sample_num, 'code' AS kind,
             CAST(1616631000000 AS BIGINT) AS accesstime_ms FROM r2
      ORDER BY kind, client_name, request_type"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L)
        rs.ratios.select(col("clientName").cast("int").as("client_name"),
            col("requestType").as("request_type"), col("sampleNum").as("sample_num"),
            col("kind"), unix_millis(col("accesstime")).as("accesstime_ms"))
          .orderBy(col("kind"), col("client_name"), col("request_type"))
      }),

    // -- Full-window parity 4/5: the `per_code_top` sink table (per-response-
    // code ranked domains, all + per-client; K exceeds group sizes so the
    // rank column itself is verified) ---------------------------------------
    QueryDef("q70_batch_window_percode", Some(s"""$keptRowsSql,
      c AS (SELECT CAST(0 AS INT) AS client_name, rcode, domain, count(*) AS cnt
            FROM kept GROUP BY 2, 3
            UNION ALL
            SELECT CAST(client_name AS INT), rcode, domain, count(*) FROM kept GROUP BY 1, 2, 3),
      r AS (SELECT *, row_number() OVER (PARTITION BY client_name, rcode
                      ORDER BY cnt DESC, domain) AS rn FROM c)
      SELECT client_name, CAST(rcode AS INT) AS response_code, domain, cnt,
             CAST(rn AS BIGINT) AS rn
      FROM r ORDER BY client_name, response_code, rn"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L)
        rs.perCodeTop.select(col("clientName").cast("int").as("client_name"),
            col("responseCode").as("response_code"), col("domain"), col("cnt"),
            col("rn").cast("long").as("rn"))
          .orderBy(col("client_name"), col("response_code"), col("rn"))
      }),

    // -- Full-window parity 5/5: the `top_user` sink table (J6 inner user
    // join -> per-user 4-dim agg -> two-stage top-K) ------------------------
    QueryDef("q71_batch_window_topusers", Some(s"""$keptRowsSql,
      u AS (SELECT client_name, client_ip, domain, aip,
                   count(*) AS resolver, CAST(sum(error) AS BIGINT) AS error
            FROM kept WHERE client_ip = '10.0.0.1'
            GROUP BY 1, 2, 3, 4
            HAVING client_name = 1 AND count(*) > 3),
      s1 AS (SELECT * FROM u ORDER BY resolver DESC, client_ip, domain, aip LIMIT 50)
      SELECT CAST(client_name AS INT) AS client_name, client_ip, domain, aip,
             resolver, error
      FROM s1 ORDER BY error DESC, client_ip, domain, aip LIMIT 20"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L)
        graft.dns.Reports.topUsers(
            graft.dns.Dims.enrichUser(rs.facts, windowDims(s).users,
              windowDims(s).userInfo),
            k1 = 50, k2 = 20, minResolver = 3)
          .select(col("clientName").cast("int").as("client_name"),
            col("clientIp").as("client_ip"), col("domain"), col("aip"),
            col("resolver"), col("error"))
      }),

    // -- J2 scale path: LAST match wins over OVERLAPPING intervals via the
    // flattened IntervalIndex (oracle: the windowed range-join formulation —
    // same result, different algorithm) ---------------------------------------
    QueryDef("q62_interval_enrich_last", Some("""
      WITH dim AS (SELECT r_name, CAST(r_regionkey*300 AS BIGINT) AS lo,
                          CAST(r_regionkey*300+499 AS BIGINT) AS hi FROM region),
      f AS (SELECT c_custkey, c_custkey*3 % 2000 AS pt FROM customer),
      j AS (SELECT f.c_custkey, f.pt, d.r_name,
                   row_number() OVER (PARTITION BY f.c_custkey ORDER BY d.lo DESC) AS rn
            FROM f LEFT JOIN dim d ON f.pt BETWEEN d.lo AND d.hi)
      SELECT c_custkey, pt, coalesce(r_name, 'unknown') AS band_name
      FROM j WHERE rn = 1 ORDER BY c_custkey"""),
      (s, dir) => {
        val dim = T(s, dir, "region").select(col("r_name"),
          (col("r_regionkey").cast("long") * 300).as("lo"),
          (col("r_regionkey").cast("long") * 300 + 499).as("hi"))
        val fact = T(s, dir, "customer")
          .select(col("c_custkey"), (col("c_custkey") * 3 % 2000).as("pt"))
        IntervalIndex.enrichAuto(s, fact, col("pt"), dim, "lo", "hi", "lo",
            lastWins = true)
          .select(col("c_custkey"), col("pt"),
            coalesce(col("r_name"), lit("unknown")).as("band_name"))
          .orderBy(col("c_custkey"))
      }),

    // -- Full-window parity 6/6: the `top_detail` sink table — raw JSON in,
    // the COMPLETE dns_flow_top row shape out of one BatchRunner.run call:
    // base agg → whitelist boost → top-K → unboost → protocol strip →
    // authority domain → inNet → business attrs → auth-domain attrs → geo
    // counters (abroad/telecom/link/gat) + aIpAddr (DnsRptCH.scala:204-291,
    // 558-601). The one reference sink previously not end-to-end.
    QueryDef("q75_batch_window_top", Some(s"""$keptRowsSql,
      base AS (SELECT client_name, domain, dns_ip, aip,
                      CAST(count(*) AS BIGINT) AS resolver,
                      CAST(sum(error) AS BIGINT) AS error
               FROM kept GROUP BY 1, 2, 3, 4),
      boosted AS (SELECT *, (domain = 'www.d0.com') AS is_wl,
                         resolver + CASE WHEN domain = 'www.d0.com' THEN 10 ELSE 0 END AS bres
                  FROM base),
      top AS (SELECT * FROM boosted WHERE bres >= 10
              ORDER BY bres DESC, domain, client_name, dns_ip, aip LIMIT 70000),
      unb AS (SELECT client_name, domain, dns_ip, aip,
                     CAST(bres - CASE WHEN is_wl THEN 10 ELSE 0 END AS BIGINT) AS resolver,
                     error
              FROM top),
      au AS (SELECT *, CASE WHEN length(regexp_extract(domain, '${F.authorityDomainRegex}', 1)) > 0
                            THEN regexp_extract(domain, '${F.authorityDomainRegex}', 1)
                            ELSE domain END AS authority_domain FROM unb),
      innet AS (SELECT *, CASE WHEN aip IN ('1.2.3.4', '5.6.7.8')
                               THEN resolver ELSE CAST(0 AS BIGINT) END AS in_net,
                       CASE WHEN aip = '1.2.3.4' THEN 'resA' ELSE '未知' END AS resource_name,
                       CASE WHEN aip = '1.2.3.4' THEN 'tA' ELSE '未知' END AS resource_type,
                       CASE WHEN aip = '1.2.3.4' THEN 'pA' ELSE '未知' END AS resource_props
                FROM au),
      auth AS (SELECT 'd' || CAST(n*3 AS VARCHAR) || '.com' AS authority_domain,
                      'cn' || CAST(n*3 AS VARCHAR) AS company_name, 'ct' AS company_type,
                      'wn' || CAST(n*3 AS VARCHAR) AS website_name, 'wt' AS website_type,
                      'sf' || CAST(n*3 AS VARCHAR) AS soft
               FROM range(0, 10) t(n)),
      authj AS (SELECT i.*, a.company_name,
                       coalesce(a.company_type, '未知') AS company_type,
                       a.website_name,
                       coalesce(a.website_type, '未知') AS website_type, a.soft
                FROM innet i LEFT JOIN auth a USING (authority_domain)),
      geo AS (SELECT * FROM (VALUES
                ('1.2.3.4', '中国', 'P1', 'C1', '中国电信'),
                ('5.6.7.8', 'US', 'P2', 'P2', '中国联通'),
                ('8.8.4.4', '中国', '香港', '香港', '移动'))
              AS v(aip, country, province, city, operator)),
      geoj AS (SELECT a.*, g.country, g.province, g.city, g.operator
               FROM authj a LEFT JOIN geo g USING (aip))
      SELECT CAST(client_name AS INT) AS client_name, domain, authority_domain,
             dns_ip, aip, resolver, error, in_net,
             coalesce(company_name, '') AS company_name, company_type,
             coalesce(website_name, '') AS website_name, website_type,
             coalesce(soft, '') AS soft,
             resource_name, resource_type, resource_props,
             CAST(CASE WHEN country IS NOT NULL AND country <> '中国' THEN resolver ELSE 0 END AS BIGINT) AS abroad_num,
             CAST(CASE WHEN operator LIKE '%电信%' THEN resolver ELSE 0 END AS BIGINT) AS telecom_num,
             CAST(CASE WHEN operator LIKE '%联通%' THEN resolver ELSE 0 END AS BIGINT) AS link_num,
             CAST(CASE WHEN province LIKE '%香港%' OR province LIKE '%澳门%' OR province LIKE '%台湾%'
                  THEN resolver ELSE 0 END AS BIGINT) AS gat_num,
             coalesce(CASE WHEN country IS NOT NULL
                  THEN country || (CASE WHEN city = province THEN province ELSE province || city END) || operator
                  END, '') AS a_ip_addr,
             CAST(1616631000000 AS BIGINT) AS accesstime_ms
      FROM geoj ORDER BY client_name, domain, dns_ip, aip"""),
      (s, dir) => {
        val rs = graft.dns.BatchRunner.run(s, rawDnsJson(T(s, dir, "events")),
          windowDims(s), 1616631000000L)
        rs.topDetail.select(
            col("clientName").cast("int").as("client_name"), col("domain"),
            col("authorityDomain").as("authority_domain"),
            col("dnsIp").as("dns_ip"), col("aip"),
            col("resolver"), col("error"), col("inNet").as("in_net"),
            coalesce(col("companyName"), lit("")).as("company_name"),
            col("companyType").as("company_type"),
            coalesce(col("websiteName"), lit("")).as("website_name"),
            col("websiteType").as("website_type"),
            coalesce(col("soft"), lit("")).as("soft"),
            col("resourceName").as("resource_name"),
            col("resourceType").as("resource_type"),
            col("resourceProps").as("resource_props"),
            col("abroadNum").as("abroad_num"), col("telecomNum").as("telecom_num"),
            col("linkNum").as("link_num"), col("gatNum").as("gat_num"),
            coalesce(col("aIpAddr"), lit("")).as("a_ip_addr"),
            unix_millis(col("accesstime")).as("accesstime_ms"))
          .orderBy(col("client_name"), col("domain"), col("dns_ip"), col("aip"))
      }),

    // -- S15 as a first-class source: the reference's binary geo DB format
    //    written and read back through the graft-geo DataSource V2
    //    (GeoDatSource). The oracle recomputes the same dim rows straight
    //    from nation — equality proves the binary codec + scan round-trip
    //    byte-exactly. Pruning/split behavior is machine-asserted in
    //    GeoDatSourceSpec.
    QueryDef("q79_geo_dat_source", Some("""
      WITH geo AS (SELECT CAST(n_nationkey*1000 AS BIGINT) AS start_ip,
                          CAST(n_nationkey*1000+499 AS BIGINT) AS end_ip,
                          (['电信','联通','移动'])[CAST(n_nationkey % 3 + 1 AS INT)] AS operator,
                          'CT' || CAST(n_nationkey % 7 AS VARCHAR) AS city
                   FROM nation)
      SELECT operator, count(*) AS cnt,
             CAST(sum(end_ip - start_ip + 1) AS BIGINT) AS covered,
             min(city) AS min_city
      FROM geo GROUP BY 1 ORDER BY operator"""),
      (s, dir) => {
        val keys = T(s, dir, "nation").select(col("n_nationkey").cast("int"))
          .collect().map(_.getInt(0)).sorted
        val ops = Seq("电信", "联通", "移动")
        val rows = keys.map { k =>
          (k * 1000L, k * 1000L + 499L,
            Seq("Asia", s"C$k", s"P$k", s"CT${k % 7}", s"D$k", ops(k % 3),
              (100000 + k).toString, s"E$k", s"ISO$k", "73.0", "18.0"))
        }.toSeq
        val path = java.nio.file.Files.createTempDirectory("graft-q79")
          .resolve("geo.dat").toString
        graft.sources.GeoDat.write(rows, path)
        s.read.format("graft-geo").load(path)
          .groupBy(col("operator"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("end_ip") - col("start_ip") + 1).cast("bigint").as("covered"),
            min(col("city")).as("min_city"))
          .orderBy(col("operator"))
      })
  )
}
