package graft.dns

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Functions => F}

/** Raw-log → clean fact pipeline (SURVEY §2.3, P1-P9).
  *
  * The reference does this row-at-a-time in a `mapPartitions` with fastjson,
  * parsing each line once (DnsRptCH.scala:861-979). Here every step is a
  * Catalyst column expression: the JSON parse is one `from_json` with an
  * explicit schema, sealed by [[parse]] behind a `Generate`, so that the
  * filters (P2-P4, null rcode) read fields of that one parsed struct in one
  * whole-stage-codegen `Filter`. The parsing `Generate` and the projection
  * with the answer derivation's lambda `filter` run outside whole-stage
  * codegen.
  */
object Ingest {

  /** P1: parse JSON lines; malformed or domain-less lines produce a null
    * struct or Domain and are dropped (reference: log-and-skip,
    * DnsRptCH.scala:866-873).
    *
    * The parsed struct sits behind `explode(array(...))`, a `Generate`:
    * the optimizer pushes no filter on `r` below it. Without it, every
    * later filter (P2/P3/P4, null rcode) is pushed below the projection
    * that defines `r` and substitutes the parse into each conjunct, so a
    * line is parsed once per filter (17 `from_json`s in `clean`'s plan),
    * and that `Filter` falls out of whole-stage codegen.
    *
    * With `obs`, `bad_records` = the dropped lines, counted between the
    * parse and the filter (`CollectMetrics` is a pushdown barrier too), in
    * the same pass as the parse, no second scan of the input. `observe`'s
    * metrics are EXACTLY-ONCE per completed action (task retries and
    * speculative execution don't double-count, unlike an accumulator
    * updated in a filter UDF). Read the count with `obs.get("bad_records")`
    * after an action. */
  def parse(lines: DataFrame, lineCol: String = "value",
            obs: Option[Observation] = None): DataFrame = {
    val bad = col("r").isNull || col("r.Domain").isNull
    val parsed = lines.select(
      explode(array(from_json(col(lineCol), DnsModel.rawSchema))).as("r"))
    obs.fold(parsed)(o =>
      parsed.observe(o, sum(when(bad, 1L).otherwise(0L)).as("bad_records")))
      .filter(!bad)
      .select(col("r.*"))
  }

  /** P2: garbage-domain filter (DnsRptCH.scala:879-887). The reference's
    * DHCP clause `!(contains && endsWith)` only drops domains that both
    * contain and end with "DHCP" — preserved verbatim. */
  def garbageDomainFilter(domain: Column): Column = {
    val bad = Seq("master01", ".localdomain", " ", "HOST", "Relteak",
      "getCached", "BlinkAP")
    length(domain) > 0 &&
      bad.map(s => !domain.contains(s)).reduce(_ && _) &&
      !(domain.contains("DHCP") && domain.endsWith("DHCP"))
  }

  /** P3: event-time window filter [t0, t0 + windowSec) on epoch-ms. */
  def inWindow(tsMillis: Column, startMillis: Long, windowSec: Long): Column =
    tsMillis >= startMillis && tsMillis < startMillis + windowSec * 1000L

  /** P6/P7: derive aip / responseType / error from the Answers array.
    *
    * Reference semantics (DnsRptCH.scala:938-953): for A-queries, `aip` is a
    * uniformly random A-record among the answers and `responseType` the LAST
    * answer's Type; no answers / non-A → aip="0.0.0.0", responseType="other";
    * error=1 iff rcode!=0 or no answers or aip=="0.0.0.0"
    * (DnsRptCH.scala:914-917, 964).
    *
    * The random pick is a reproducibility bug, not a feature — we take the
    * FIRST A answer (deterministic; tests and the SQL oracle can reproduce
    * it).
    */
  def withAnswerDerivation(df: DataFrame): DataFrame = {
    val aRecords = filter(col("Answers"), a => a.getField("Type") === "A")
    df.withColumn("aip",
        when(col("Type") === "A" && size(aRecords) > 0,
          element_at(aRecords, 1).getField("Value"))
          .otherwise(lit("0.0.0.0")))
      .withColumn("responseType",
        when(col("Type") === "A" && size(col("Answers")) > 0,
          element_at(col("Answers"), -1).getField("Type"))
          .otherwise(lit("other")))
      .withColumn("error",
        when(col("ResponseCode") =!= 0 || size(col("Answers")) <= 0 ||
          col("aip") === "0.0.0.0", 1L).otherwise(0L))
  }

  /** Full P1-P7 chain: raw lines → canonical fact columns (no dims yet;
    * clientName defaults to 5 until [[Dims.enrichClientName]]). */
  def clean(spark: SparkSession, lines: DataFrame,
            windowStartMs: Long, windowSec: Long = 300L): Dataset[DnsRecord] = {
    import spark.implicits._
    val parsed = parse(lines)
      .filter(col("QR") === true)                            // P4
      .filter(garbageDomainFilter(col("Domain")))            // P2
      .filter(inWindow(col("Timestamp"), windowStartMs, windowSec)) // P3
      // Reference parity: a missing ResponseCode kills the row via the
      // getInteger NPE catch (DnsRptCH.scala:914-917) — drop, don't default,
      // so error accounting matches.
      .filter(col("ResponseCode").isNotNull)
    withAnswerDerivation(parsed)                             // P6-P7
      .select(                                               // P5 projection
        col("Type").as("requestType"),
        coalesce(col("ResponseCode"), lit(0)).as("responseCode"),
        F.strip_protocol(col("Domain")).as("domain"),        // P10
        coalesce(col("ServerIP"), lit("")).as("dnsIp"),
        coalesce(col("ClientIP"), lit("")).as("clientIp"),
        timestamp_millis(col("Timestamp")).as("ts"),
        col("aip"), col("responseType"), col("error"),
        lit(1L).as("resolver"),
        lit(5).as("clientName"))
      .as[DnsRecord]
  }
}
