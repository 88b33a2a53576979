package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dns.Dims
import graft.functions.{Functions => F}

/** J5/F7/P9 geo enrichment over the broadcast interval index. */
class GeoEnrichSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)

  test("enrichGeo attaches operator/province, nulls on miss") {
    val geo = Seq(
      (ip("115.238.0.0"), ip("115.238.255.255"), "电信", "浙江"),
      (ip("58.250.0.0"), ip("58.251.255.255"), "联通", "广东"))
      .toDF("min_long_ip", "max_long_ip", "operator", "province")
      // a shuffle makes the dim plan's row order evaluation-dependent —
      // the single-collect design must still attach consistent attributes
      .repartition(4)
    val facts = Seq("115.238.23.2", "58.250.137.36", "8.8.8.8")
      .toDF("aip")
    val out = Dims.enrichGeo(spark, facts, geo, F.ip_to_long(col("aip")))
      .select("aip", "operator", "province").as[(String, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("115.238.23.2", "电信", "浙江"),
      ("58.250.137.36", "联通", "广东"),
      ("8.8.8.8", null, null)))
  }
}
