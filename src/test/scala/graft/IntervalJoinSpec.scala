package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{IntervalJoin, IntervalJoinExec, MultiIntervalIndex}

/** The BETWEEN-join planner strategy: plan shape (IntervalJoinExec replaces
  * BroadcastNestedLoopJoin), result parity against Spark's own planner on
  * randomized overlapping intervals, every supported join shape, residual
  * conjuncts, null bounds/points, and the fall-through guards. */
class IntervalJoinSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withStrategy[T](body: => T): T = {
    GraftExtensions.register(spark)
    body
  }

  private def intervalJoins(df: DataFrame): Seq[IntervalJoinExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: IntervalJoinExec => e
    }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Same query planned with and without the strategy must agree. */
  private def assertParity(sql: String): Unit = {
    val planned = withStrategy(spark.sql(sql))
    assert(intervalJoins(planned).nonEmpty, s"not planned as IntervalJoin:\n$sql")
    spark.conf.set(IntervalJoin.enabledKey, "false")
    try {
      val vanilla = spark.sql(sql)
      assert(intervalJoins(vanilla).isEmpty)
      assert(sortedRows(planned) == sortedRows(vanilla), s"result drift:\n$sql")
    } finally spark.conf.set(IntervalJoin.enabledKey, "true")
  }

  private def mkTables(): Unit = {
    // 40 overlapping intervals incl. inverted + null bounds; 400 points
    val dim = (0 until 40).map { i =>
      val lo = if (i % 13 == 0) null else java.lang.Long.valueOf(i * 17L % 200)
      val hi =
        if (i % 11 == 0) null
        else java.lang.Long.valueOf(i * 17L % 200 + (if (i % 7 == 0) -5L else 90L))
      (i, lo, hi, s"rule_$i")
    }.toDF("rid", "lo", "hi", "tag")
    val fact = (0 until 400)
      .map(i => (i, if (i % 19 == 0) null else java.lang.Long.valueOf(i % 250), i % 3))
      .toDF("fid", "pt", "grp")
    dim.createOrReplaceTempView("ij_dim")
    fact.createOrReplaceTempView("ij_fact")
  }

  test("index: lookup returns every covering interval") {
    val idx = MultiIntervalIndex.build(Seq((0L, 10L, 0), (5L, 15L, 1), (20L, 20L, 2), (9L, 3L, 3)))
    assert(idx.lookup(4L).toSeq == Seq(0))
    assert(idx.lookup(7L).toSeq == Seq(0, 1))
    assert(idx.lookup(12L).toSeq == Seq(1))
    assert(idx.lookup(20L).toSeq == Seq(2))
    assert(idx.lookup(16L).isEmpty && idx.lookup(-1L).isEmpty)
    assert(idx.lookup(Long.MaxValue).isEmpty)
  }

  test("inner BETWEEN join plans as IntervalJoin and matches vanilla Spark") {
    mkTables()
    assertParity("""
      SELECT f.fid, d.rid, d.tag FROM ij_fact f
      JOIN ij_dim d ON f.pt BETWEEN d.lo AND d.hi""")
  }

  test("left-outer keeps unmatched facts; right-outer streams the right side") {
    mkTables()
    assertParity("""
      SELECT f.fid, f.pt, d.tag FROM ij_fact f
      LEFT JOIN ij_dim d ON f.pt >= d.lo AND f.pt <= d.hi""")
    assertParity("""
      SELECT f.fid, f.pt, d.tag FROM ij_dim d
      RIGHT JOIN ij_fact f ON f.pt >= d.lo AND f.pt <= d.hi""")
  }

  test("residual conjuncts filter matches (and null-extend outer rows)") {
    mkTables()
    assertParity("""
      SELECT f.fid, d.rid FROM ij_fact f
      JOIN ij_dim d ON f.pt BETWEEN d.lo AND d.hi AND d.rid % 2 = f.grp""")
    assertParity("""
      SELECT f.fid, d.rid FROM ij_fact f
      LEFT JOIN ij_dim d ON f.pt BETWEEN d.lo AND d.hi AND d.rid % 2 = 0""")
  }

  test("point expression may be computed; dim side detected on either side") {
    mkTables()
    assertParity("""
      SELECT f.fid, d.rid FROM ij_fact f
      JOIN ij_dim d ON (f.pt * 2 + f.grp) BETWEEN d.lo AND d.hi * 2""")
    // build side written on the left of the join
    assertParity("""
      SELECT f.fid, d.rid FROM ij_dim d
      JOIN ij_fact f ON f.pt BETWEEN d.lo AND d.hi""")
  }

  /** [[assertParity]] of a BETWEEN join of two SQL VALUES lists, `dim`
    * rows (lo, hi, tag) and `fact` rows (fid, pt), on which vanilla Spark
    * matches at least one row. */
  private def assertParityOver(dim: String, fact: String): Unit = {
    val sql = s"""
      SELECT f.fid, d.tag FROM VALUES $fact AS f(fid, pt)
      JOIN VALUES $dim AS d(lo, hi, tag) ON f.pt BETWEEN d.lo AND d.hi"""
    spark.conf.set(IntervalJoin.enabledKey, "false")
    try assert(spark.sql(sql).count() > 0, "the vanilla join must match rows")
    finally spark.conf.set(IntervalJoin.enabledKey, "true")
    assertParity(sql)
  }

  test("DATE points and bounds compare as days") {
    assertParityOver(
      "(DATE'2024-01-01', DATE'2024-01-31', 'jan'), (DATE'2024-02-01', DATE'2024-02-29', 'feb')",
      "(1, DATE'2024-01-15'), (2, DATE'2024-02-29'), (3, DATE'2024-03-01')")
  }

  test("sub-second TIMESTAMP points and bounds compare as microseconds") {
    assertParityOver(
      "(timestamp_micros(10700000), timestamp_micros(20000000), 'late')",
      "(1, timestamp_micros(10200000)), (2, timestamp_micros(10800000))")
  }

  test("a bound at Long.MaxValue covers the top of the line") {
    assertParityOver(
      "(0L, 9223372036854775807L, 'open'), (10L, 20L, 'mid')",
      "(1, 1L), (2, 15L), (3, 100L), (4, 9223372036854775807L), (5, -1L)")
  }

  test("guards: non-integral types and big build sides fall through") {
    mkTables()
    withStrategy {
      val doubles = spark.sql("""
        SELECT * FROM ij_fact f JOIN ij_dim d
        ON CAST(f.pt AS DOUBLE) BETWEEN CAST(d.lo AS DOUBLE) AND CAST(d.hi AS DOUBLE)""")
      assert(intervalJoins(doubles).isEmpty, "double bounds must not plan")
      spark.conf.set(IntervalJoin.maxBuildKey, "1")
      try {
        val big = spark.sql(
          "SELECT * FROM ij_fact f JOIN ij_dim d ON f.pt BETWEEN d.lo AND d.hi")
        assert(intervalJoins(big).isEmpty, "over-threshold build must not plan")
      } finally spark.conf.unset(IntervalJoin.maxBuildKey)
    }
  }

  test("probe side plans without a shuffle exchange") {
    mkTables()
    withStrategy {
      val df = spark.sql(
        "SELECT f.fid, d.rid FROM ij_fact f JOIN ij_dim d ON f.pt BETWEEN d.lo AND d.hi")
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(!s.contains("ShuffleExchange") && !s.contains("ShuffleQueryStage"),
        s"interval join must not shuffle either side:\n$s")
    }
  }
}
