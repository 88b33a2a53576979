package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dns.Dims

/** J3 in-net membership over media ∪ business ranges. */
class InNetSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ip(s: String): Long =
    s.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toInt)

  test("enrichInNet flags aips inside media or business ranges") {
    val media = Seq((ip("10.0.0.0"), ip("10.255.255.255")))
      .toDF("min_long_ip", "max_long_ip")
    val biz = Seq((ip("115.238.0.0"), ip("115.238.255.255")))
      .toDF("min_long_ip", "max_long_ip")
    val facts = Seq(
      ("10.1.2.3", 7L), ("115.238.9.9", 3L), ("8.8.8.8", 5L), ("bogus", 1L))
      .toDF("aip", "resolver")
    val got = Dims.enrichInNet(spark, facts, media, biz)
      .select("aip", "inNet").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("10.1.2.3", 7L), ("115.238.9.9", 3L),
      ("8.8.8.8", 0L), ("bogus", 0L)))
  }
}
