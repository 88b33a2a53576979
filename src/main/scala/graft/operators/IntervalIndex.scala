package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Sorted-interval index with O(log n) point lookup.
  *
  * Every IP-range enrichment in [[graft.dns.Dims]] (SURVEY J1/J2/J3/J5) goes
  * through it: a BroadcastNestedLoopJoin on `point BETWEEN lo AND hi` costs
  * O(rules) comparisons per fact row — fine at 10 rules, fatal at 10⁵ rules ×
  * 100 TB of facts. The reference itself recognises this for its geo database
  * (binary search over a prefix-bucketed interval file, IpSearch.java:78-127);
  * we generalise: overlapping prioritized rules are flattened driver-side into
  * DISJOINT intervals (sweep line — dims are small, facts are not), and
  * probed with `java.util.Arrays.binarySearch` inside a UDF. The fact side
  * keeps its partitioning: no shuffle, no NLJ, no join operator.
  *
  * The index carries each rule's attribute row, so the probe returns the
  * winning rule's attributes directly. It is a [[DimSnapshot]]: collected,
  * built and broadcast once per content version of the dim, and reused by
  * every window that enriches with the same rule table.
  */
final class IntervalIndex private (
    val starts: Array[Long],   // sorted, disjoint segment starts
    val ends: Array[Long],     // inclusive segment ends, parallel to starts
    val ids: Array[Int],       // winning rule id per segment
    attrs: Array[Row])         // attribute row per rule id
    extends Serializable {

  /** Id of the rule covering `p`, or -1. O(log n). */
  def lookup(p: Long): Int = {
    var idx = java.util.Arrays.binarySearch(starts, p)
    if (idx < 0) idx = -idx - 2 // insertion point - 1 = candidate segment
    if (idx >= 0 && idx < starts.length && p <= ends(idx)) ids(idx) else -1
  }

  /** Attribute row of the rule covering `p`, or null. O(log n). */
  def attrsAt(p: Long): Row = {
    val i = lookup(p)
    if (i < 0) null else attrs(i)
  }
}

object IntervalIndex {

  /** Flatten possibly-overlapping prioritized intervals into a disjoint index.
    *
    * @param rules    (lo, hi inclusive, priority, ruleId)
    * @param lastWins on overlap keep highest priority (reference "last match
    *                 wins", DnsRptCH.scala:590-596); false keeps lowest
    *                 (reference "first match", DnsRptCH.scala:927-930)
    * @param attrs    attribute row per rule id, returned by `attrsAt`
    */
  def build(rules: Seq[(Long, Long, Long, Int)], lastWins: Boolean,
            attrs: Array[Row] = Array.empty): IntervalIndex = {
    val valid = rules.filter(r => r._1 <= r._2)
    if (valid.isEmpty) return new IntervalIndex(Array.empty, Array.empty, Array.empty, attrs)
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
    new IntervalIndex(ss.toArray, es.toArray, is.toArray, attrs)
  }

  /** The bounded driver-side collect ([[DimSnapshot.collect]]) of `dim`
    * into an index whose rule ids are the collected row positions and whose
    * attribute rows are the collected rows minus `loCol`/`hiCol`: the dim is
    * collected ONCE, so the index and its attributes cannot drift when the
    * dim plan's row order is nondeterministic, and dims need no id column.
    * A null lo/hi/priority bound fails with a descriptive error instead of
    * an opaque row-access error. */
  private def collectIndex(dim: DataFrame, loCol: String, hiCol: String,
                           priorityCol: String, lastWins: Boolean,
                           maxRules: Int): IntervalIndex = {
    val rows = DimSnapshot.collect(dim, maxRules)
    val li = dim.schema.fieldIndex(loCol)
    val hiI = dim.schema.fieldIndex(hiCol)
    val pi = dim.schema.fieldIndex(priorityCol)
    def lng(r: Row, i: Int): Long = {
      val v = r.get(i)
      require(v != null,
        s"IntervalIndex: dim row has a null ${dim.columns(i)} bound — filter " +
          s"null-bound rules before building the index ($r)")
      v.asInstanceOf[Number].longValue()
    }
    val rules = rows.toSeq.zipWithIndex.map { case (r, i) =>
      (lng(r, li), lng(r, hiI), lng(r, pi), i)
    }
    val keep = attrIndices(dim, loCol, hiCol)
    build(rules, lastWins, rows.map(r => Row.fromSeq(keep.map(r.get))))
  }

  private def attrIndices(dim: DataFrame, loCol: String, hiCol: String): Seq[Int] = {
    val drop = Set(dim.schema.fieldIndex(loCol), dim.schema.fieldIndex(hiCol))
    dim.schema.indices.filterNot(drop)
  }

  /** The winning rule's attributes (every `dim` column but `loCol` and
    * `hiCol`) for a point column, as one struct column; null where no rule
    * covers the point. The index is `dim`'s [[DimSnapshot]]: the first
    * use of a dim version collects (at most `maxRules` rows, else a
    * descriptive failure), builds and broadcasts it; later uses only probe.
    * The struct's fields are nullable, as a left-outer join's would be. */
  def probe(dim: DataFrame, loCol: String, hiCol: String, priorityCol: String,
            lastWins: Boolean, maxRules: Int = DimSnapshot.maxCollectedRows)(point: Column): Column = {
    val idx = DimSnapshot.of(dim, ("interval", loCol, hiCol, priorityCol, lastWins, maxRules))(
      collectIndex(dim, loCol, hiCol, priorityCol, lastWins, maxRules))
    val attrType = StructType(attrIndices(dim, loCol, hiCol)
      .map(i => dim.schema(i).copy(nullable = true)))
    udf(new UDF1[Any, Row] {
      override def call(p: Any): Row =
        if (p == null) null else idx.value.attrsAt(p.asInstanceOf[Long])
    }, attrType)(point.cast(LongType))
  }

  /** End-to-end enrichment: the fact's columns followed by the winning
    * rule's attribute columns (every dim column but `loCol`/`hiCol`), one
    * O(log rules) [[probe]] per fact row. No join, no window, no shuffle:
    * the fact keeps its partitioning. Left-outer: unmatched fact rows keep
    * nulls for dim attributes (callers apply `coalesce` defaults). */
  def enrichAuto(spark: SparkSession, fact: DataFrame, point: Column,
                 dim: DataFrame, loCol: String, hiCol: String,
                 priorityCol: String, lastWins: Boolean,
                 maxRules: Int = DimSnapshot.maxCollectedRows): DataFrame = {
    val hit = probe(dim, loCol, hiCol, priorityCol, lastWins, maxRules)(point)
    fact.withColumn("__rule", hit)
      .select(col("*") +: DimSnapshot.spread("__rule",
        attrIndices(dim, loCol, hiCol).map(dim.columns(_))): _*)
      .drop("__rule")
  }
}
