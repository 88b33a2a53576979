package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked scale properties of the headline plans — the "would this
  * survive 100 TB" invariants, asserted instead of eyeballed:
  *
  *  - filters and column pruning reach the parquet scan;
  *  - global top-K is TakeOrderedAndProject (K-heaps), never a full sort;
  *  - per-group top-K gets a WindowGroupLimit below the exchange;
  *  - dimension joins broadcast (no shuffle of the fact side);
  *  - the LSH self-join is a real equi-join, never a cartesian product.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
  private def planString(df: DataFrame): String = finalPlan(df).toString

  /** Every shuffle in the finalized plan — including materialized AQE stages
    * (ShuffleQueryStageExec is a LEAF wrapper; collecting only
    * ShuffleExchangeExec under AQE would assert nothing). */
  private def shuffleNodes(plan: SparkPlan): Seq[SparkPlan] = plan.collect {
    case s: ShuffleExchangeExec => s
    case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => s
  }

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = planString(Queries.byName("q02_scan_pushdown").fn(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,150000.0)]")
      || p.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(o_totalprice.*"), p)
    // pruned read schema: only the 3 consumed columns, not the full table
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_orderkey") && read.contains("o_custkey")
      && read.contains("o_orderdate") && !read.contains("o_comment"), read)
  }

  test("global top-K plans as TakeOrderedAndProject, not a full sort+limit") {
    val agg = Queries.byName("q13_topk_two_stage").fn(spark, sf)
    val p = planString(agg)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("per-group top-K gets a WindowGroupLimit pushed below the exchange") {
    val p = planString(Queries.byName("q14_pergroup_topk").fn(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dimension equi-join broadcasts: no shuffle on the fact side") {
    // the q09 join WITHOUT its presentation orderBy: the join itself must
    // plan as a broadcast hash join with ZERO shuffles of any kind
    import org.apache.spark.sql.functions._
    val dim = spark.read.parquet(s"$sf/part.parquet").filter(col("p_size") >= 26)
      .select(col("p_partkey"), col("p_brand"))
    val joined = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey"), coalesce(col("p_brand"), lit("unk")).as("brand"))
    val plan = finalPlan(joined)
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    assert(shuffleNodes(plan).isEmpty, s"join must not shuffle:\n$plan")
  }

  test("LSH candidate self-join is an equi-join on the band key, never cartesian") {
    val p = planString(Queries.byName("q30_minhash_candidates").fn(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("interval-index enrichment is entirely shuffle-free (q06 minus its sort)") {
    import org.apache.spark.sql.functions._
    val dim = spark.read.parquet(s"$sf/nation.parquet").select(
      col("n_nationkey").cast("long").as("rid"),
      (col("n_nationkey").cast("long") * 400).as("lo"),
      (col("n_nationkey").cast("long") * 400 + 599).as("hi"))
    val fact = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), (col("c_custkey") * 7 % 10000).as("pt"))
    val enriched = graft.operators.IntervalIndex.enrichAuto(
      spark, fact, col("pt"), dim, "lo", "hi", "lo", lastWins = false)
    val plan = finalPlan(enriched)
    assert(shuffleNodes(plan).isEmpty, s"enrichment must not shuffle:\n$plan")
    // the attributes come from the index probe itself; shuffle exchanges are not
    assert(!plan.toString.contains("ShuffleExchange")
      && !plan.toString.contains("ShuffleQueryStage"), plan.toString)
  }

  test("the SQL lateral as-of (q95) plans as the window rewrite, no nested loop") {
    val p = planString(Queries.byName("q95_asof_lateral_sql").fn(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"lateral as-of fell back to the decorrelated nested loop:\n$p")
    assert(p.contains("Window"), p)
  }

  test("bloom decontamination never shuffles the candidate side") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.operators.Decontamination.bloomScores(
      docs, col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 97 === 0), col("text"),
      shingleN = 3, numBits = 65536, numHashes = 3, threshold = 0.5)
    val plan = finalPlan(scored)
    // the ONLY admissible shuffle is the single-row benchmark bloom agg;
    // candidates scan -> probe -> score with their input partitioning intact
    assert(shuffleNodes(plan).size <= 1,
      s"candidate side must not shuffle:\n$plan")
    assert(!plan.toString.contains("SortMergeJoin"), plan.toString)
  }

  test("indexed bloom decontamination: equal to the fresh fold, same plan shape") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val store = java.nio.file.Files
      .createTempDirectory("graft-bloomstore").toString + "/bench"
    graft.operators.Decontamination.writeBenchmarkBloom(
      bench, col("text"), shingleN = 3, numBits = 65536, numHashes = 3, store)
    val fresh = graft.operators.Decontamination.bloomScores(
      docs, col("doc_id"), col("text"), bench, col("text"),
      shingleN = 3, numBits = 65536, numHashes = 3, threshold = 0.5)
    val indexed = graft.operators.Decontamination.bloomScoresIndexed(
      docs, col("doc_id"), col("text"), store, threshold = 0.5)
    assert(indexed.orderBy("doc_id").collect().toSeq
      == fresh.orderBy("doc_id").collect().toSeq)
    // the persisted probe never re-folds the benchmark: zero shuffles at
    // all (the fresh path's one admissible shuffle IS the benchmark fold)
    assert(shuffleNodes(finalPlan(indexed)).isEmpty,
      finalPlan(indexed).toString)
    // mismatched parameters refuse to merge
    val other = java.nio.file.Files
      .createTempDirectory("graft-bloomstore2").toString + "/bench"
    graft.operators.Decontamination.writeBenchmarkBloom(
      bench, col("text"), shingleN = 2, numBits = 65536, numHashes = 3, other)
    intercept[IllegalArgumentException] {
      graft.operators.Decontamination.mergeBenchmarkBlooms(spark,
        Seq(store, other), store + "-merged")
    }
  }

  test("ZLake's relation still pushes filters to the parquet reader") {
    import org.apache.spark.sql.functions._
    // file pruning happens at the index; ROW-GROUP pruning inside the kept
    // files depends on the pushed filters reaching the reader — a custom
    // relation that silently lost pushdown would still be correct but would
    // decode every surviving row group
    val path = java.nio.file.Files.createTempDirectory("graft-zpush").toString + "/t"
    graft.sinks.Sinks.zorderedWrite(
      spark.range(1L << 14).select((col("id") % 256).as("a"),
        (col("id") / 64 % 256).as("b")), "a", "b", path, 4, bits = 8)
    val p = planString(graft.sources.ZLake.read(spark, path)
      .filter(col("a") >= 10 && col("a") <= 20))
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(a,10\\).*"),
      s"ZLake scan lost filter pushdown:\n$p")
  }

  test("IVF-PQ is equi-joined on the cell, never cartesian; queries broadcast") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = planString(graft.operators.Similarity.ivfPqTopK(
      emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 8), col("vec_id"), col("embedding"),
      m = 8, numCodes = 16, k = 5, nprobe = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
  }
}
