package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Sinks

/** K2 middle-data sink: -separated text, bounded file count
  * (reference coalesce(12).saveAsTextFile, DnsRptCH.scala:131-139). */
class SinksSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("middleData round-trips \\u0001-separated rows in <= numFiles files") {
    val out = java.nio.file.Files.createTempDirectory("graft-middle").toString
    val rows = Seq(("user1", "a.com", 3L), ("user2", "b.com", 5L))
      .toDF("userName", "domain", "cnt")
    Sinks.middleData(rows, out, numFiles = 2)

    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(files.nonEmpty && files.length <= 2)

    val back = spark.read.text(out)
      .as[String].collect()
      .map(_.split('\u0001') match { case Array(u, d, c) => (u, d, c.toLong) })
      .sortBy(_._1).toSeq
    assert(back == Seq(("user1", "a.com", 3L), ("user2", "b.com", 5L)))
  }

  test("K1 jdbcAppend drives a real JDBC endpoint (embedded Derby) with append semantics") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val rows = Seq(("a.com", 3L), ("b.com", 5L)).toDF("domain", "resolver")
    // first append creates the table; batchsize=1 exercises multi-batch flush
    Sinks.jdbcAppend(rows, url, "dns_flow_top", batchSize = 1)
    // second append must add, not replace (ClickUtils.scala:24-27 semantics)
    Sinks.jdbcAppend(rows, url, "dns_flow_top")
    val back = spark.read.jdbc(url, "dns_flow_top", new java.util.Properties())
    assert(back.count() == 4L)
    import org.apache.spark.sql.functions.sum
    assert(back.agg(sum("resolver")).head().getLong(0) == 16L)
  }

  test("fused z-write stats equal the separate stats job byte-for-byte") {
    // r17: zorderedWrite computes manifest sketches/blooms/sums as
    // per-z-bucket partials in the histogram job (3 full reads → 2) and
    // merges them per file on the driver. Pin the fusion's contract: the
    // manifest it writes is BYTE-IDENTICAL to the one the separate stats
    // job (a re-read of the written files) produces on the same files —
    // including null values, multi-column stats, and the 1-file path.
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 2000).select(
      col("id"),
      (col("id") % 53).cast("long").as("a"),
      (col("id") * 7 % 61).cast("long").as("b"),
      when(col("id") % 11 =!= 0, concat(lit("u"), (col("id") % 37)
        .cast("string"))).as("uid"),
      (col("id") % 1000).cast("decimal(9,2)").as("amt"))
    def manifestBytes(dir: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        dir, graft.sources.ZLake.ManifestName))
    for (numFiles <- Seq(1, 5)) {
      val out = java.nio.file.Files
        .createTempDirectory("graft-zfuse").toString
      val statsJobsBefore = graft.sources.ZLake.statsJobs.get()
      Sinks.zorderedWrite(df, "a", "b", out, numFiles = numFiles, bits = 8,
        sketchCols = Seq("uid", "a"), sketchM = 16,
        bloomCols = Seq("uid"), bloomBits = 256, bloomHashes = 3,
        sumCols = Seq("id", "amt"))
      // the 3→2-passes property itself: the fused write must never
      // re-read its output through the manifest stats job
      assert(graft.sources.ZLake.statsJobs.get() == statsJobsBefore,
        "fused z-write ran the separate output-reading stats job")
      val fused = manifestBytes(out)
      // recompute through the un-fused path: the stats job re-reads the
      // written files and must serialize the identical manifest
      graft.sources.ZLake.writeManifest(spark, out, Some(df.schema),
        sketchCols = Seq("uid", "a"), sketchM = 16,
        bloomCols = Seq("uid"), bloomBits = 256, bloomHashes = 3,
        sumCols = Seq("id", "amt"))
      val separate = manifestBytes(out)
      assert(java.util.Arrays.equals(fused, separate),
        s"fused and stats-job manifests differ at numFiles=$numFiles")
    }
  }
}
