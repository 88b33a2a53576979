package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Functions => F}
import graft.operators.{RangeJoin, TopK}

/** One verifiable query per operator of SURVEY §2, expressed over the
  * driver-generated TPC-H-ish testdata (TESTDATA.md), each paired with an
  * ANSI-SQL oracle the driver runs in DuckDB on the same parquet files.
  *
  * Determinism rules (the oracle hash-compares values):
  *  - every aggregate over doubles goes through `decimal(18,2)` so the sum is
  *    exact and engine-order-independent, then casts to double;
  *  - every query ends in a total ORDER BY;
  *  - column names are lowercase and identical on both sides;
  *  - counts/ranks cast to bigint (DuckDB's hugeint/int32 would otherwise
  *    mismatch Spark's long).
  */
final class QueryDef(val name: String, oracleByName: => Option[String],
                     val fn: (SparkSession, String) => DataFrame) {
  /** By-name for historical reasons; every oracle is now a pure function
    * of compile-time constants — NO process state (trained models,
    * run order) may influence a dumped SQL string, so oracle_sql.json is
    * identical whether or not any query ran first (OracleDumpSpec pins
    * this: the r11/r12 q167/q169 hash-red class). */
  def oracle: Option[String] = oracleByName
}
object QueryDef {
  def apply(name: String, oracle: => Option[String],
            fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, oracle, fn)
}

object Queries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal sum of a 2-dp double column, rendered as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** events.ts is parquet TIMESTAMP(MICROS) read as TimestampType (UTC
    * session) — epoch seconds via exact integer micros, matching the
    * oracle's `epoch_ns(ts)//1000000000` on DuckDB's naive TIMESTAMP. */
  private val tsSec = "unix_micros(ts) div 1000000"
  private val duckTsSec = "(epoch_ns(ts)//1000000000)"

  // ===========================================================================
  val all: Vector[QueryDef] = Vector(

    // -- S1/P3/P5/A5: scan → filter → multi-key agg (TPC-H Q1 shape) ---------
    QueryDef("q01_pricing_summary", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
      (s, dir) => T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // -- S1/P5: projection + predicate pushdown to the parquet scan ----------
    QueryDef("q02_scan_pushdown", Some("""
      SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS odate
      FROM orders WHERE o_totalprice > 150000
      ORDER BY o_orderkey"""),
      (s, dir) => T(s, dir, "orders")
        .filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .orderBy(col("o_orderkey"))),

    // -- A1/F5: QPS per 5-min bucket (count, errors, floor(count/300)) -------
    QueryDef("q03_qps_buckets", Some(s"""
      SELECT $duckTsSec//300*300 AS bucket, count(*) AS sample_num,
             CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error_num,
             CAST(floor(count(*)/300) AS BIGINT) AS avg_num
      FROM events GROUP BY 1 ORDER BY bucket"""),
      (s, dir) => T(s, dir, "events")
        .withColumn("bucket", expr(s"($tsSec) div 300 * 300"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("sample_num"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("error_num"),
          floor(count(lit(1)) / 300).as("avg_num"))
        .orderBy(col("bucket"))),

    // -- A2/A3: ratio report, "all + per-client" pair via one union ----------
    QueryDef("q04_type_ratio_all_per_client", Some("""
      SELECT CAST(0 AS BIGINT) AS client_id, event_type, count(*) AS sample_num
      FROM events GROUP BY 2
      UNION ALL
      SELECT user_id % 5 + 1 AS client_id, event_type, count(*) AS sample_num
      FROM events GROUP BY 1, 2
      ORDER BY client_id, event_type"""),
      (s, dir) => {
        val ev = T(s, dir, "events")
        val allRows = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("sample_num"))
          .select(lit(0L).as("client_id"), col("event_type"), col("sample_num"))
        val per = ev.withColumn("client_id", col("user_id") % 5 + 1)
          .groupBy(col("client_id"), col("event_type"))
          .agg(count(lit(1)).as("sample_num"))
        allRows.unionByName(per).orderBy(col("client_id"), col("event_type"))
      }),

    // -- A4: response-code ratio (derived int code) --------------------------
    QueryDef("q05_code_ratio", Some("""
      SELECT CAST(floor(value) AS BIGINT) % 8 AS code, count(*) AS sample_num
      FROM events GROUP BY 1 ORDER BY code"""),
      (s, dir) => T(s, dir, "events")
        .withColumn("code", floor(col("value")) % 8)
        .groupBy(col("code")).agg(count(lit(1)).as("sample_num"))
        .orderBy(col("code"))),

    // -- J1: point-in-interval range join, FIRST match, left outer -----------
    QueryDef("q06_range_join_first", Some("""
      WITH dim AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
                          CAST(n_nationkey*400 AS BIGINT) AS lo,
                          CAST(n_nationkey*400+599 AS BIGINT) AS hi FROM nation),
      f AS (SELECT c_custkey, c_custkey*7 % 10000 AS pt FROM customer),
      j AS (SELECT f.c_custkey, f.pt, d.rid,
                   row_number() OVER (PARTITION BY f.c_custkey ORDER BY d.lo ASC) AS rn
            FROM f LEFT JOIN dim d ON f.pt BETWEEN d.lo AND d.hi)
      SELECT c_custkey, pt, coalesce(rid, -1) AS rule_id
      FROM j WHERE rn = 1 ORDER BY c_custkey"""),
      (s, dir) => {
        // OVERLAPPING intervals ([0,599],[400,999],…), first-match = lowest
        // lo: flattened driver-side into the disjoint IntervalIndex — the
        // default J1 path. No window, no shuffle of the fact side.
        val dim = T(s, dir, "nation").select(
          col("n_nationkey").cast("long").as("rid"),
          (col("n_nationkey").cast("long") * 400).as("lo"),
          (col("n_nationkey").cast("long") * 400 + 599).as("hi"))
        val fact = T(s, dir, "customer")
          .select(col("c_custkey"), (col("c_custkey") * 7 % 10000).as("pt"))
        graft.operators.IntervalIndex.enrichAuto(s, fact, col("pt"), dim,
            "lo", "hi", "lo", lastWins = false)
          .select(col("c_custkey"), col("pt"), coalesce(col("rid"), lit(-1L)).as("rule_id"))
          .orderBy(col("c_custkey"))
      }),

    // -- J2: range join, LAST match wins, attrs + default --------------------
    QueryDef("q07_range_join_last", Some("""
      WITH dim AS (SELECT r_name, CAST(r_regionkey*40000 AS BIGINT) AS lo,
                          CAST(r_regionkey*40000+79999 AS BIGINT) AS hi FROM region),
      j AS (SELECT o.o_orderkey, d.r_name,
                   row_number() OVER (PARTITION BY o.o_orderkey ORDER BY d.lo DESC) AS rn
            FROM orders o LEFT JOIN dim d ON o.o_totalprice BETWEEN d.lo AND d.hi)
      SELECT o_orderkey, coalesce(r_name, 'unknown') AS band_name
      FROM j WHERE rn = 1 ORDER BY o_orderkey"""),
      (s, dir) => {
        val dim = T(s, dir, "region").select(col("r_name"),
          (col("r_regionkey").cast("long") * 40000).as("lo"),
          (col("r_regionkey").cast("long") * 40000 + 79999).as("hi"))
        RangeJoin.pointInInterval(T(s, dir, "orders"), dim,
            col("o_totalprice"), col("lo"), col("hi"),
            RangeJoin.LastMatch, priority = col("lo"), factKeys = Seq(col("o_orderkey")))
          .select(col("o_orderkey"), coalesce(col("r_name"), lit("unknown")).as("band_name"))
          .orderBy(col("o_orderkey"))
      }),

    // -- J3: interval-membership flag (inNet semantics) ----------------------
    QueryDef("q08_innet_membership", Some("""
      SELECT e.event_id, e.user_id,
             CASE WHEN EXISTS (SELECT 1 FROM nation n
                               WHERE e.user_id BETWEEN n.n_nationkey*3 AND n.n_nationkey*3+4)
                  THEN CAST(floor(e.value) AS BIGINT) ELSE 0 END AS in_net
      FROM events e ORDER BY e.event_id"""),
      (s, dir) => {
        // ONE scan of events, ONE membership probe per row (the r1 semi+anti
        // double-scan is gone — VERDICT r1 "What's wrong" #3).
        import graft.operators.IntervalIndex
        val k = col("n_nationkey").cast("long")
        val hit = IntervalIndex.probe(
          T(s, dir, "nation").select((k * 3).as("lo"), (k * 3 + 4).as("hi")),
          "lo", "hi", "lo", lastWins = true)(col("user_id"))
        T(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            when(hit.isNotNull, floor(col("value"))).otherwise(0L).as("in_net"))
          .orderBy(col("event_id"))
      }),

    // -- J4: broadcast equi left join with coalesce defaults -----------------
    QueryDef("q09_equi_join_default", Some("""
      SELECT l.l_orderkey, l.l_linenumber, coalesce(p.p_brand, 'unk') AS brand
      FROM lineitem l LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size >= 26) p
        ON l.l_partkey = p.p_partkey
      ORDER BY l_orderkey, l_linenumber"""),
      (s, dir) => {
        val dim = T(s, dir, "part").filter(col("p_size") >= 26)
          .select(col("p_partkey"), col("p_brand"))
        T(s, dir, "lineitem")
          .join(broadcast(dim), col("l_partkey") === col("p_partkey"), "left")
          .select(col("l_orderkey"), col("l_linenumber"),
            coalesce(col("p_brand"), lit("unk")).as("brand"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      }),

    // -- J6/J7: inner user join + left info join with defaults ---------------
    QueryDef("q10_user_enrich_join", Some("""
      SELECT e.user_id, coalesce(ui.address, ' ') AS address, count(*) AS cnt
      FROM events e
      JOIN (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0) u USING (user_id)
      LEFT JOIN (SELECT DISTINCT user_id, 'addr_' || CAST(user_id AS VARCHAR) AS address
                 FROM events WHERE user_id % 6 = 0) ui USING (user_id)
      GROUP BY 1, 2 ORDER BY user_id"""),
      (s, dir) => {
        val ev = T(s, dir, "events")
        val users = ev.filter(col("user_id") % 3 === 0).select(col("user_id")).distinct()
        val info = ev.filter(col("user_id") % 6 === 0).select(col("user_id")).distinct()
          .withColumn("address", concat(lit("addr_"), col("user_id").cast("string")))
        ev.join(broadcast(users), Seq("user_id"))
          .join(broadcast(info), Seq("user_id"), "left")
          .groupBy(col("user_id"), coalesce(col("address"), lit(" ")).as("address"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("user_id"))
      }),

    // -- J8 + anti: semi/anti join membership rollups ------------------------
    QueryDef("q11_semi_anti_join", Some("""
      SELECT 'semi' AS kind, o_orderpriority AS grp, count(*) AS cnt FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY 2
      UNION ALL
      SELECT 'anti' AS kind, o_orderpriority AS grp, count(*) AS cnt FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY 2
      ORDER BY kind, grp"""),
      (s, dir) => {
        val cust = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = T(s, dir, "orders")
        val semi = o.join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy(col("o_orderpriority").as("grp")).agg(count(lit(1)).as("cnt"))
          .select(lit("semi").as("kind"), col("grp"), col("cnt"))
        val anti = o.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("o_orderpriority").as("grp")).agg(count(lit(1)).as("cnt"))
          .select(lit("anti").as("kind"), col("grp"), col("cnt"))
        semi.unionByName(anti).orderBy(col("kind"), col("grp"))
      }),

    // -- T1: global top-K with whitelist boost/unboost (TakeOrderedAndProject)
    QueryDef("q12_topk_boost", Some("""
      WITH base AS (SELECT l_partkey,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS resolver
                    FROM lineitem GROUP BY 1),
      wl AS (SELECT p_partkey FROM part WHERE p_size >= 48),
      boosted AS (SELECT b.l_partkey,
                         b.resolver + CASE WHEN w.p_partkey IS NOT NULL THEN 10 ELSE 0 END AS bres,
                         CASE WHEN w.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS is_wl
                  FROM base b LEFT JOIN wl w ON b.l_partkey = w.p_partkey),
      top AS (SELECT * FROM boosted WHERE bres >= 50 ORDER BY bres DESC, l_partkey LIMIT 100)
      SELECT l_partkey, CAST(bres - 10*is_wl AS BIGINT) AS resolver, CAST(is_wl AS BIGINT) AS is_wl
      FROM top ORDER BY resolver DESC, l_partkey"""),
      (s, dir) => {
        val base = T(s, dir, "lineitem").groupBy(col("l_partkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("resolver"))
        val wl = T(s, dir, "part").filter(col("p_size") >= 48).select(col("p_partkey"))
        val boosted = base.join(broadcast(wl), col("l_partkey") === col("p_partkey"), "left")
          .withColumn("is_wl", when(col("p_partkey").isNotNull, 1L).otherwise(0L))
          .withColumn("bres", col("resolver") + lit(10) * col("is_wl"))
          .filter(col("bres") >= 50)
        TopK.global(boosted, 100, col("bres").desc, col("l_partkey").asc)
          .select(col("l_partkey"), (col("bres") - lit(10) * col("is_wl")).cast("bigint").as("resolver"),
            col("is_wl").cast("bigint").as("is_wl"))
          .orderBy(col("resolver").desc, col("l_partkey"))
      }),

    // -- T2: two-stage global top-K (resolver-desc then error-desc) ----------
    QueryDef("q13_topk_two_stage", Some("""
      SELECT * FROM (
        SELECT * FROM (
          SELECT user_id, count(*) AS resolver,
                 CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS err
          FROM events GROUP BY 1)
        ORDER BY resolver DESC, user_id LIMIT 50)
      ORDER BY err DESC, user_id LIMIT 10"""),
      (s, dir) => {
        val agg = T(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("resolver"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
        val s1 = TopK.global(agg, 50, col("resolver").desc, col("user_id").asc)
        TopK.global(s1, 10, col("err").desc, col("user_id").asc)
      }),

    // -- T3/T5: per-group top-K via rank window (group-limit pushdown) -------
    QueryDef("q14_pergroup_topk", Some("""
      WITH c AS (SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2)
      SELECT event_type, user_id, cnt, rn FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY cnt DESC, user_id) AS BIGINT) AS rn FROM c)
      WHERE rn <= 10 ORDER BY event_type, rn"""),
      (s, dir) => {
        val c = T(s, dir, "events").groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        TopK.perGroup(c, 10, Seq(col("event_type")), Seq(col("cnt").desc, col("user_id").asc))
          .withColumn("rn", col("rn").cast("long"))
          .orderBy(col("event_type"), col("rn"))
      }),

    // -- §2.7: set operations (intersect / except) ---------------------------
    QueryDef("q15_set_ops", Some("""
      SELECT 'intersect' AS op, k FROM (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
      UNION ALL
      SELECT 'except' AS op, k FROM (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
      ORDER BY op, k"""),
      (s, dir) => {
        val cust = T(s, dir, "customer")
        val a = cust.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
        val b = cust.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
        a.intersect(b).select(lit("intersect").as("op"), col("k"))
          .unionByName(a.except(b).select(lit("except").as("op"), col("k")))
          .orderBy(col("op"), col("k"))
      }),

    // -- F1/F2/F8: ip_to_long / long_to_ip / CIDR membership -----------------
    QueryDef("q16_ip_functions", Some("""
      SELECT c_custkey,
             '10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
               CAST((c_custkey*7) % 256 AS VARCHAR) || '.1' AS ip,
             CAST(167772160 + (c_custkey % 256)*65536 + ((c_custkey*7) % 256)*256 + 1 AS BIGINT) AS ip_long,
             '10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
               CAST((c_custkey*7) % 256 AS VARCHAR) || '.1' AS ip_back,
             ((167772160 + (c_custkey % 256)*65536 + ((c_custkey*7) % 256)*256 + 1) & 4286578688 = 176160768) AS in_cidr
      FROM customer ORDER BY c_custkey"""),
      (s, dir) => {
        val ipCol = concat_ws(".", lit("10"), (col("c_custkey") % 256).cast("string"),
          ((col("c_custkey") * 7) % 256).cast("string"), lit("1"))
        T(s, dir, "customer")
          .withColumn("ip", ipCol)
          .withColumn("ip_long", F.ip_to_long(col("ip")))
          .withColumn("ip_back", F.long_to_ip(col("ip_long")))
          .withColumn("in_cidr", F.ip_in_cidr(col("ip"), lit("10.128.0.0/9")))
          .select(col("c_custkey"), col("ip"), col("ip_long"), col("ip_back"), col("in_cidr"))
          .orderBy(col("c_custkey"))
      }),

    // -- F3/P10: protocol strip + authority-domain extraction ----------------
    QueryDef("q17_authority_domain", Some(s"""
      WITH d AS (SELECT p_partkey,
        (CASE WHEN p_partkey % 5 = 0 THEN 'http://' ELSE '' END) ||
        (CASE WHEN p_partkey % 3 = 0 THEN 'www.' ELSE '' END) ||
        lower(regexp_replace(p_name, '[^a-zA-Z0-9]', '', 'g')) || '.' ||
        (CASE p_partkey % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'net'
                            WHEN 2 THEN 'com.cn' ELSE 'io' END) AS url
        FROM part),
      st AS (SELECT p_partkey, regexp_replace(url, '^https?://', '') AS domain FROM d),
      m AS (SELECT p_partkey, domain,
                   regexp_extract(domain, '${F.authorityDomainRegex}', 1) AS mm FROM st)
      SELECT p_partkey, domain,
             CASE WHEN length(mm) > 0 THEN mm ELSE domain END AS authority
      FROM m ORDER BY p_partkey"""),
      (s, dir) => {
        val url = concat(
          when(col("p_partkey") % 5 === 0, lit("http://")).otherwise(lit("")),
          when(col("p_partkey") % 3 === 0, lit("www.")).otherwise(lit("")),
          lower(regexp_replace(col("p_name"), "[^a-zA-Z0-9]", "")), lit("."),
          element_at(array(lit("com"), lit("net"), lit("com.cn"), lit("io")),
            (col("p_partkey") % 4 + 1).cast("int")))
        T(s, dir, "part").withColumn("url", url)
          .withColumn("domain", F.strip_protocol(col("url")))
          .withColumn("authority", F.authority_domain(col("domain")))
          .select(col("p_partkey"), col("domain"), col("authority"))
          .orderBy(col("p_partkey"))
      }),

    // -- F6 + portable 60-bit hash -------------------------------------------
    QueryDef("q18_hash_functions", Some("""
      SELECT doc_id, md5(text) AS m,
             CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h60
      FROM documents ORDER BY doc_id"""),
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("m"), F.hash60(col("text")).as("h60"))
        .orderBy(col("doc_id"))),

    // -- F4: timestamp formatting --------------------------------------------
    QueryDef("q19_time_format", Some("""
      SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_str, count(*) AS cnt
      FROM events GROUP BY 1 ORDER BY hour_str"""),
      (s, dir) => T(s, dir, "events")
        .withColumn("hour_str",
          date_format(col("ts"), "yyyy-MM-dd HH:00"))
        .groupBy(col("hour_str")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("hour_str"))),

    // -- P1/F11: JSON field extraction + agg ---------------------------------
    QueryDef("q20_json_extract", Some("""
      SELECT event_type,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             count(*) AS cnt
      FROM events GROUP BY 1 ORDER BY event_type"""),
      (s, dir) => T(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))),

    // -- §2.9: window functions (rank / lag / running frame sum) -------------
    QueryDef("q21_window_functions", Some("""
      SELECT event_id, user_id,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
                  (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
             CAST(coalesce(lag(CAST(value AS DECIMAL(18,2))) OVER w, 0) AS DOUBLE) AS lag_val
      FROM events WHERE user_id % 7 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      ORDER BY user_id, event_id"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        T(s, dir, "events").filter(col("user_id") % 7 === 0)
          .withColumn("vd", col("value").cast("decimal(18,2)"))
          .select(col("event_id"), col("user_id"),
            row_number().over(w).cast("long").as("rn"),
            sum(col("vd")).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double").as("running"),
            coalesce(lag(col("vd"), 1).over(w), lit(0).cast("decimal(18,2)"))
              .cast("double").as("lag_val"))
          .orderBy(col("user_id"), col("event_id"))
      }),

    // -- bonus: ROLLUP grouping sets -----------------------------------------
    QueryDef("q22_rollup", Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls"""),
      (s, dir) => T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("cnt"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")))
  )

  /** Core + ML/text + DNS-report + ops suites. */
  def combined: Vector[QueryDef] =
    all ++ QueriesML.all ++ QueriesDns.all ++ QueriesOps.all ++
      QueriesRetrieval.all

  /** Headline queries timed by [[Bench]] — one per operator family: scan+agg,
    * range join, equi join, global and per-group top-K, scalar kernels,
    * MinHash LSH dedup, blocked embedding near-dup, ANN, grouping sets,
    * sessionization windows, plus the full per-window pipeline (parse →
    * clean → enrich → 8-dim trend) end to end. */
  val benchNames: Seq[String] = Seq(
    "q01_pricing_summary", "q06_range_join_first", "q09_equi_join_default",
    "q12_topk_boost", "q14_pergroup_topk", "q18_hash_functions",
    "q30_minhash_candidates", "q34_embedding_neardup", "q35_ann_bruteforce",
    "q54_ann_ivf", "q46_grouping_sets", "q45_sessionize",
    "q68_batch_window_trend",
    // round-4 operators: SQL BETWEEN join via IntervalJoinExec; PQ-ANN
    "q77_interval_join_sql", "q78_ann_pq",
    // round-5 operators: bidirectional as-of join; bloom decontamination;
    // the SQL lateral as-of planned through AsOfLateralRewrite
    "q83_asof_directions", "q84_bloom_decontaminate", "q95_asof_lateral_sql",
    // round-6 operators: IVF-PQ; the nearest lateral spelling
    "q99_ann_ivfpq", "q100_asof_lateral_nearest",
    // round-7: sequence packing; unigram-NLL scoring over documents
    "q107_sequence_packing", "q108_unigram_nll",
    // round-9: domain-weighted corpus mixing (join-pruned lake reads are
    // timed by the qR_join_prune lane — q127's fn builds its own lake)
    "q128_corpus_mixing",
    // round-11: exact-substring dedup (the corpus-proportional duplicated
    // n-gram sweep); deterministic training-order shuffle (shard + rank);
    // digit-histogram quantiles (sketch build + merge + reads). The
    // tokenizer-training queries (q146/q154/q160) stay gate-only: their
    // cost is the driver loop, not a repeatable engine lane.
    "q159_substring_dedup", "q161_training_order", "q162_digit_quantiles",
    // round-11 third wave: semantic dedup (IVF cells + within-cell pairs),
    // the trigram LM (one distributed gram count + zero-shuffle scoring),
    // the composed CCNet curation pipeline, and token chunking. The
    // declarative-ANN queries (q165/q171) stay gate-only: each builds a
    // fresh index fixture per call, which would bill writes to a read
    // lane.
    "q166_semantic_dedup", "q167_ngram_lm", "q169_ccnet_curation",
    "q170_token_chunks",
    // round-11 fourth wave: BM25 lexical scoring (stats aggregate +
    // zero-shuffle projection) and DSIR importance weights (two bucket
    // models + literal-table scoring). The index lanes (q174/q178) and
    // the hybrid lane (q175) stay gate-only: each builds a fresh postings
    // index per call, which would bill writes to a read lane.
    "q173_bm25_scores", "q176_dsir_scores",
    // round-12: SQ8 scalar-quantized ANN (bounds aggregate + one
    // codegen'd encode/recon/distance pass — a repeatable engine lane).
    // The range-search queries (q201-q203) stay gate-only: they share
    // q185/q35's brute plan shape, already timed. MLT serves from the
    // persisted index — timed as the qR_mlt_probe read lane instead.
    "q204_sq8_topk",
    // round-15: exact multi-vector MaxSim (ColBERT late interaction) —
    // the brute baseline; the IVF-pruned serving path is timed against
    // the pre-built index as the qR_maxsim_probe read lane (q216 stays
    // gate-only: it builds a fresh token index per call).
    "q215_maxsim")
  // The composite lake lanes (q96/q103/q106/q109/q110/q111) left this
  // list in r9 (VERDICT r8 #2): each billed 4-8 z-ordered WRITES per run
  // and hid the zero-task reads it existed to measure. Bench now times
  // the write/maintenance paths as `qW_*` lanes and the read paths as
  // `qR_*` lanes over per-process pre-built fixture lakes (Bench.scala);
  // the queries remain in the correctness gate unchanged.

  def byName: Map[String, QueryDef] = combined.map(q => q.name -> q).toMap
}
