package graft.dns

import org.apache.spark.sql.types._

/** Data model of the DNS-analytics engine (SURVEY §1; reference
  * BeanObj.scala:17-21 and the raw JSON shape parsed at DnsRptCH.scala:866-975).
  *
  * One immutable case class per record shape; Spark `Encoder`s derive from
  * these, so every operator below stays in Tungsten rows.
  */

/** A parsed, cleaned, enriched DNS response (reference `DnsBean`,
  * BeanObj.scala:17-21). Field defaults follow the reference:
  * clientName=5 (unknown), aip="0.0.0.0", responseType="other",
  * inNet=0, error derived (DnsRptCH.scala:914-917, 964).
  */
final case class DnsRecord(
    requestType: String,    // DNS query type: A/AAAA/CNAME/PTR/...
    responseCode: Int,      // RCODE: 0=NOERROR, 2=SERVFAIL, 3=NXDOMAIN...
    domain: String,         // queried name, protocol-stripped
    dnsIp: String,          // resolving server IP
    clientIp: String,       // querying client IP
    ts: java.sql.Timestamp, // event time (epoch ms in raw log)
    aip: String,            // resolved A-record address ("0.0.0.0" if none)
    responseType: String,   // last answer's Type, "other" if none
    error: Long,            // 1 if failed (rcode!=0 | no answers | aip=0.0.0.0)
    resolver: Long,         // resolution count weight (1 per record)
    clientName: Int)        // client-type id from IP-range dim, default 5

object DnsModel {

  /** Schema of one raw JSON log line (reference field extraction,
    * DnsRptCH.scala:875-952). Unused raw fields are omitted — Catalyst
    * prunes the JSON parse to exactly these. */
  val rawSchema: StructType = StructType(Seq(
    StructField("Type", StringType),          // request type
    StructField("ResponseCode", IntegerType),
    StructField("Domain", StringType),
    StructField("ServerIP", StringType),      // dns server
    StructField("ClientIP", StringType),
    StructField("Timestamp", LongType),       // epoch millis
    StructField("QR", BooleanType),           // true = response
    StructField("Answers", ArrayType(StructType(Seq(
      StructField("Type", StringType),
      StructField("Value", StringType)))))))
}
