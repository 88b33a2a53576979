package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Broadcast sorted-interval index with O(log n) point lookup.
  *
  * Every IP-range enrichment in [[graft.dns.Dims]] (SURVEY J1/J2/J3/J5) goes
  * through it: a BroadcastNestedLoopJoin on `point BETWEEN lo AND hi` costs
  * O(rules) comparisons per fact row — fine at 10 rules, fatal at 10⁵ rules ×
  * 100 TB of facts. The reference itself recognises this for its geo database
  * (binary search over a prefix-bucketed interval file, IpSearch.java:78-127);
  * we generalise: overlapping prioritized rules are flattened driver-side into
  * DISJOINT intervals (sweep line — dims are small, facts are not), broadcast
  * once, and probed with `java.util.Arrays.binarySearch` inside a UDF. The
  * fact side keeps its partitioning: no shuffle, no NLJ.
  *
  * The lookup returns the winning rule's integer id; attributes are attached
  * with a broadcast HASH join against the (tiny) rule table — still
  * shuffle-free.
  */
final class IntervalIndex private (
    val starts: Array[Long],   // sorted, disjoint segment starts
    val ends: Array[Long],     // inclusive segment ends, parallel to starts
    val ids: Array[Int])       // winning rule id per segment
    extends Serializable {

  /** Id of the rule covering `p`, or -1. O(log n). */
  def lookup(p: Long): Int = {
    var idx = java.util.Arrays.binarySearch(starts, p)
    if (idx < 0) idx = -idx - 2 // insertion point - 1 = candidate segment
    if (idx >= 0 && idx < starts.length && p <= ends(idx)) ids(idx) else -1
  }
}

object IntervalIndex {

  /** Flatten possibly-overlapping prioritized intervals into a disjoint index.
    *
    * @param rules    (lo, hi inclusive, priority, ruleId)
    * @param lastWins on overlap keep highest priority (reference "last match
    *                 wins", DnsRptCH.scala:590-596); false keeps lowest
    *                 (reference "first match", DnsRptCH.scala:927-930)
    */
  def build(rules: Seq[(Long, Long, Long, Int)], lastWins: Boolean): IntervalIndex = {
    val valid = rules.filter(r => r._1 <= r._2)
    if (valid.isEmpty) return new IntervalIndex(Array.empty, Array.empty, Array.empty)
    // Sweep line over elementary segments between consecutive boundaries.
    val bounds = valid.flatMap(r => Seq(r._1, r._2 + 1)).distinct.sorted.toArray
    val sortedRules = valid.sortBy(_._1).toArray
    val ss = collection.mutable.ArrayBuffer[Long]()
    val es = collection.mutable.ArrayBuffer[Long]()
    val is = collection.mutable.ArrayBuffer[Int]()
    var ri = 0 // rules with lo <= segment start, maintained incrementally
    val active = collection.mutable.ArrayBuffer[(Long, Long, Long, Int)]()
    var b = 0
    while (b < bounds.length - 1) {
      val segLo = bounds(b); val segHi = bounds(b + 1) - 1
      while (ri < sortedRules.length && sortedRules(ri)._1 <= segLo) {
        active += sortedRules(ri); ri += 1
      }
      active.filterInPlace(_._2 >= segLo)
      if (active.nonEmpty) {
        val win = if (lastWins) active.maxBy(r => (r._3, r._4)) else active.minBy(r => (r._3, r._4))
        // merge with previous segment when contiguous and same winner
        if (is.nonEmpty && is.last == win._4 && es.last == segLo - 1) es(es.length - 1) = segHi
        else { ss += segLo; es += segHi; is += win._4 }
      }
      b += 1
    }
    new IntervalIndex(ss.toArray, es.toArray, is.toArray)
  }

  /** Broadcast `idx` and return a Column computing the winning rule id for a
    * long-valued point column (-1 = no match). */
  def lookupColumn(spark: SparkSession, idx: IntervalIndex)(point: Column): Column = {
    val bc: Broadcast[IntervalIndex] = spark.sparkContext.broadcast(idx)
    val fn = udf((p: java.lang.Long) =>
      if (p == null) -1 else bc.value.lookup(p.longValue()))
    fn(point)
  }

  /** Ceiling on dim rows the enrich paths will pull to the driver. The index
    * is a DIM-side structure: the reference's rule tables are 10²-10⁵ rows;
    * this bound (2M rows ≈ tens of MB collected + broadcast) is 10× headroom
    * beyond any sane rule table while failing fast — instead of OOMing the
    * driver — when a caller hands a fact-sized table to the dim parameter. */
  val maxCollectedRules: Int = 2000000

  /** The bounded driver-side collect behind [[enrichAuto]] and
    * `Dims.enrichInNet`: `coalesce(1).limit(max+1).collect()` reads the dim
    * in a single job (a bare `limit` over a multi-file dim scans one
    * partition, then re-runs for the rest) and never holds more than max+1
    * rows. Rule ids are the collected row positions; the rows come back so a
    * caller can attach attributes by the same ids. Exceeding the cap or a
    * null lo/hi/priority bound fails with a descriptive error instead of an
    * OOM or an opaque row-access error. */
  private[graft] def collectIndex(dim: DataFrame, loCol: String, hiCol: String,
                                  priorityCol: String, lastWins: Boolean,
                                  maxRules: Int = maxCollectedRules)
      : (IntervalIndex, Array[org.apache.spark.sql.Row]) = {
    val rows = dim.coalesce(1).limit(maxRules + 1).collect()
    require(rows.length <= maxRules,
      s"IntervalIndex: dimension has more than $maxRules rows (maxCollectedRules) " +
        "— this operator collects the dim to the driver and is meant for rule " +
        "tables, not facts. Filter or aggregate the dim down to a rule table " +
        "before enriching with it.")
    val li = dim.schema.fieldIndex(loCol)
    val hiI = dim.schema.fieldIndex(hiCol)
    val pi = dim.schema.fieldIndex(priorityCol)
    def lng(r: org.apache.spark.sql.Row, i: Int): Long = {
      val v = r.get(i)
      require(v != null,
        s"IntervalIndex: dim row has a null ${dim.columns(i)} bound — filter " +
          s"null-bound rules before building the index ($r)")
      v.asInstanceOf[Number].longValue()
    }
    val rules = rows.toSeq.zipWithIndex.map { case (r, i) =>
      (lng(r, li), lng(r, hiI), lng(r, pi), i)
    }
    (build(rules, lastWins), rows)
  }

  /** End-to-end enrichment: compute the winning rule id for `point`, then
    * broadcast-hash join the collected rule rows on that id. Rule ids are
    * synthesized from the collected row order, so dims need no unique id
    * column, and the dim is collected ONCE so the index and the attribute
    * table cannot drift when the dim plan's row order is nondeterministic.
    * No window, no shuffle, no NLJ on the fact side: the fact keeps its
    * partitioning and pays one O(log rules) probe per row. Left-outer:
    * unmatched fact rows keep nulls for dim attributes (callers apply
    * `coalesce` defaults). */
  def enrichAuto(spark: SparkSession, fact: DataFrame, point: Column,
                 dim: DataFrame, loCol: String, hiCol: String,
                 priorityCol: String, lastWins: Boolean,
                 maxRules: Int = maxCollectedRules): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val (idx, rows) = collectIndex(dim, loCol, hiCol, priorityCol, lastWins, maxRules)
    val attrSchema = StructType(dim.schema.fields :+
      StructField("__rule_id", IntegerType, nullable = false))
    val attrRows = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    val attrs = spark.createDataFrame(
        java.util.Arrays.asList(attrRows: _*), attrSchema)
      .drop(loCol, hiCol)
    fact.withColumn("__rule_id", lookupColumn(spark, idx)(point))
      .join(broadcast(attrs), Seq("__rule_id"), "left")
      .drop("__rule_id")
  }
}
