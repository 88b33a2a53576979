package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dns.DnsRecord
import graft.streaming.StreamRunner

class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rec(tsSec: Long, client: Int, err: Long) = DnsRecord(
    requestType = "A", responseCode = 0, domain = "x.com", dnsIp = "1.1.1.1",
    clientIp = "2.2.2.2", ts = new Timestamp(tsSec * 1000), aip = "3.3.3.3",
    responseType = "A", error = err, resolver = 1L, clientName = client)

  test("foreachBatch report reuses the batch code path and skips empty batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DnsRecord]
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = StreamRunner.reportEvery(mem.toDF(), interval = "0 seconds", ckpt) {
      (batch, _) => seen += batch.count()
    }.start()
    try {
      mem.addData(rec(1616631000L, 1, 0))
      q.processAllAvailable()
      assert(seen.sum == 1L)
    } finally q.stop()
  }

  test("file-source restart from checkpoint processes each file exactly once") {
    // The reference tracks nothing: a restart re-reads or skips whole windows
    // (DnsRptCH.scala:1009-1012, 1146-1161). A checkpointed file source must
    // process every file exactly once across a stop/restart.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p,
        String.join("\n", lines: _*).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val processed = scala.collection.mutable.ArrayBuffer[String]()
    def startQuery() = StreamRunner
      .reportEvery(StreamRunner.rawStream(spark, dir), interval = "0 seconds", ckpt) {
        (batch, _) =>
          processed.synchronized {
            processed ++= batch.select("value").collect().map(_.getString(0))
          }
      }.start()

    writeFile("a.txt", Seq("line-1", "line-2"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(processed.sorted.toSeq == Seq("line-1", "line-2"))

    writeFile("b.txt", Seq("line-3"))
    val q2 = startQuery() // same checkpoint: a.txt must NOT be reprocessed
    try q2.processAllAvailable() finally q2.stop()
    assert(processed.sorted.toSeq == Seq("line-1", "line-2", "line-3"))
  }

  test("crash between sink write and checkpoint commit neither loses nor doubles a window") {
    // The exactly-once claim (StreamRunner.scala:15-17), actually exercised:
    // the query DIES after writing batch output but before the commit log
    // records the epoch. On restart the same epoch re-runs with the SAME
    // batchId, so an idempotent-by-batchId sink (overwrite of out/batch=<id>)
    // converges to exactly-once — nothing lost, nothing doubled.
    val dir = java.nio.file.Files.createTempDirectory("graft-rec-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rec-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-rec-out").toString
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQuery() = StreamRunner
      .reportEvery(StreamRunner.rawStream(spark, dir), interval = "0 seconds", ckpt) {
        (batch, id) =>
          batch.write.mode("overwrite").parquet(s"$out/batch=$id")
          if (batch.filter(col("value") === "w2-1").count() > 0 &&
              failOnce.getAndSet(false))
            throw new RuntimeException("crash after sink write, before commit")
      }.start()

    writeFile("w1.log", Seq("w1-1", "w1-2"))
    val q1 = startQuery()
    q1.processAllAvailable()
    writeFile("w2.log", Seq("w2-1", "w2-2"))
    try { q1.processAllAvailable(); q1.stop() }
    catch { case _: Throwable => () } // the injected crash kills the query
    assert(!q1.isActive)

    val q2 = startQuery() // restart: uncommitted epoch re-runs, same batchId
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(out).select("value").as[String]
      .collect().toSeq.sorted
    assert(all == Seq("w1-1", "w1-2", "w2-1", "w2-2"))
  }
}
