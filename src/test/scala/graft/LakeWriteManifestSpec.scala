package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks
import graft.sources.ZLake

/** The window sink's plain branch (`Sinks.lakeWrite`, `zorderBy = None`)
  * leaves every `win=` directory manifest-covered, so a dashboard read
  * through [[ZLake.read]] plans with zero footer opens and no Spark job;
  * a stats-less [[ZLake.writeManifest]] itself starts no Spark job. */
class LakeWriteManifestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import LakeWriteManifestSpec._

  private val w1 = 1616631000000L // 2021-03-25 00:10 UTC
  private val w2 = w1 + 300000L

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** `n` rows per window, split over 3 partitions so each window gets
    * several files; `salt` changes every row's payload. */
  private def rows(wins: Seq[Long], n: Int, salt: Long = 0L): DataFrame =
    wins.flatMap(w => (0 until n).map(i =>
      (new java.sql.Timestamp(w + i * 1000L), s"d${i % 7}", i + salt)))
      .toDF("accesstime", "domain", "cnt").repartition(3)

  private def sorted(df: DataFrame): Seq[String] =
    df.select("accesstime", "domain", "cnt", "win").collect()
      .map(_.mkString("|")).toSeq.sorted

  test("a stats-less writeManifest starts no Spark job") {
    val dir = tmp("wm") + "/t"
    rows(Seq(w1), 30).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val (_, jobs) = jobsOf(spark)(ZLake.writeManifest(spark, dir, Some(schema)))
    assert(jobs == 0, s"writeManifest started $jobs Spark jobs")
    assert(manifestFiles(Paths.get(dir)) == parquetFiles(Paths.get(dir)))
  }

  test("lakeWrite's plain branch leaves every window manifest-covered") {
    val root = tmp("lw")
    val table = s"$root/t"
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1, w2), 20)), root)
    val dirs = winDirs(table)
    assert(dirs.map(_.getFileName.toString) ==
      Seq("win=20210325_0010", "win=20210325_0015"))
    dirs.foreach { d =>
      assert(parquetFiles(d).nonEmpty, s"$d holds no data")
      assert(manifestFiles(d) == parquetFiles(d),
        s"$d: the manifest must list exactly the directory's files")
    }

    val opens = ZLake.footerOpens.get()
    val (df, jobs) = jobsOf(spark) {
      val d = ZLake.read(spark, table); d.queryExecution.executedPlan; d
    }
    assert(ZLake.footerOpens.get() == opens,
      s"planning opened ${ZLake.footerOpens.get() - opens} footers")
    assert(jobs == 0, s"planning started $jobs Spark jobs")
    assert(sorted(df) == sorted(spark.read.parquet(table)))
    assert(df.count() == 40L)
  }

  test("a replayed window replaces its manifest with its partition") {
    val root = tmp("lwr")
    val table = s"$root/t"
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1, w2), 20)), root)
    val Seq(d1, d2) = winDirs(table)
    val oldFiles = parquetFiles(d1).keySet
    val d2Manifest = Files.readAllBytes(d2.resolve(ZLake.ManifestName))
    val d2Mtime = Files.getLastModifiedTime(d2.resolve(ZLake.ManifestName))

    // the replay of window 1 carries different rows
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1), 12, salt = 1000L)), root)
    assert(parquetFiles(d1).keySet.intersect(oldFiles).isEmpty,
      "the replay must replace window 1's files")
    assert(manifestFiles(d1) == parquetFiles(d1))
    assert(Files.readAllBytes(d2.resolve(ZLake.ManifestName)).sameElements(
      d2Manifest), "window 2's manifest must be untouched")
    assert(Files.getLastModifiedTime(d2.resolve(ZLake.ManifestName)) ==
      d2Mtime)

    val opens = ZLake.footerOpens.get()
    val got = sorted(ZLake.read(spark, table))
    assert(ZLake.footerOpens.get() == opens)
    assert(got == sorted(spark.read.parquet(table)))
    assert(got.count(_.endsWith("|20210325_0010")) == 12)
    assert(got.filter(_.endsWith("|20210325_0010"))
      .forall(_.split('|')(2).toLong >= 1000L))
  }

  test("an empty input writes nothing and does not fail") {
    val fresh = tmp("lwe")
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1), 5).limit(0)), fresh)
    assert(winDirs(s"$fresh/t").isEmpty)

    val root = tmp("lwe2")
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1, w2), 5)), root)
    val before = winDirs(s"$root/t").map(d => d -> manifestFiles(d))
    Sinks.lakeWrite(Map("t" -> rows(Seq(w1), 5).filter($"cnt" < 0)), root)
    assert(winDirs(s"$root/t").map(d => d -> manifestFiles(d)) == before)
  }
}

object LakeWriteManifestSpec {
  /** Spark jobs `body` starts: it runs under a fresh job group (inherited
    * by driver-pool threads), and a job in another group, seen after it,
    * proves the asynchronous listener bus has delivered every earlier
    * job start. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val flush = s"$group-flush"
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(flush, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(flush) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(flush), "the listener never saw the flush job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(l)
  }

  /** The `win=` directories under a table, in name order. */
  def winDirs(table: String): Seq[Path] = {
    val p = Paths.get(table)
    if (!Files.isDirectory(p)) Nil
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala.filter(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("win=")).toList
        .sortBy(_.getFileName.toString)
      finally ls.close()
    }
  }

  /** Parquet data files in `dir`: name -> length. */
  def parquetFiles(dir: Path): Map[String, Long] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => f.getFileName.toString -> Files.size(f)).toMap
    finally ls.close()
  }

  /** The files `dir`'s manifest covers: name -> length; empty when the
    * directory has no manifest. */
  def manifestFiles(dir: Path): Map[String, Long] = {
    val m = dir.resolve(ZLake.ManifestName)
    if (!Files.exists(m)) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(m.toFile).path("files").fields().asScala
      .map(e => e.getKey -> e.getValue.path("len").asLong()).toMap
  }
}
