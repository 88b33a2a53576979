package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, TimestampType}
import graft.operators.IntervalIndex

/** Whole-operator Catalyst integration for point-in-interval joins.
  *
  * The reference enriches every DNS record against IP-range rule tables with
  * a driver-side linear scan per row (DnsRptCH.scala:796-855). The Spark-
  * native Scala API for that is [[graft.operators.IntervalIndex]]; this file
  * is the SQL-surface equivalent: a planner [[SparkStrategy]] that recognizes
  *
  * {{{ SELECT ... FROM fact JOIN dim ON fact.pt BETWEEN dim.lo AND dim.hi }}}
  *
  * (any conjunction containing one lower and one upper bound on the same
  * point expression, plus arbitrary residual conjuncts) and plans it as
  * [[IntervalJoinExec]] — collect the small side, flatten its intervals into
  * a sorted disjoint-segment index, broadcast it, and stream the big side
  * through an O(log rules) probe per row. Without this rule Spark plans the
  * same query as BroadcastNestedLoopJoin: O(rules) comparisons per fact row,
  * which is the difference between 30 and 10⁵-rule dims surviving a 100 TB
  * fact scan. Unlike the first/last-match enrich API, join semantics emit
  * EVERY matching interval, so the rewrite is transparent to SQL authors.
  *
  * Scope guards (falls through to Spark's own planner otherwise):
  *  - point and bounds of one integral type (long-encoded IPs, epoch
  *    seconds, keys, DATE, TIMESTAMP), compared by their internal values
  *    (days, microseconds) — never cast, which nulls a DATE and truncates a
  *    TIMESTAMP to seconds;
  *  - build side under `spark.graft.intervalJoin.maxBuildBytes` by Catalyst
  *    stats (same contract as autoBroadcastJoinThreshold);
  *  - inner / left-outer (build right) / right-outer (build left) — shapes
  *    where the probe side streams and the interval side broadcasts.
  */
object IntervalJoin {
  val enabledKey = "spark.graft.intervalJoin.enabled"
  val maxBuildKey = "spark.graft.intervalJoin.maxBuildBytes"
  val defaultMaxBuild: Long = 64L << 20

  /** Hard cap on segment-list blowup: n overlapping intervals flatten to at
    * most 2n-1 segments, but the per-segment id lists can sum to O(n²) when
    * everything overlaps everything. 64M ids ≈ 512 MB broadcast — refuse
    * beyond that with a clear error instead of OOMing the driver. */
  val maxStoredIds: Long = 64L << 20

  /** The internal value of an integral point or bound (a DATE's days, a
    * TIMESTAMP's microseconds), widened to long. */
  private[plans] def internalLong(v: Any): Long = v.asInstanceOf[Number].longValue()
}

/** Sorted disjoint segments, each carrying ALL covering interval ids (join
  * semantics). Built by the one segment sweep of
  * [[graft.operators.IntervalIndex]] and probed by its one segment lookup;
  * only the per-segment payload differs. */
final class MultiIntervalIndex private (
    val starts: Array[Long], val ends: Array[Long],
    val idLists: Array[Array[Int]]) extends Serializable {

  /** Ids of every interval covering `p` (possibly empty). O(log segments). */
  def lookup(p: Long): Array[Int] = {
    val s = IntervalIndex.segmentOf(starts, ends, p)
    if (s < 0) MultiIntervalIndex.none else idLists(s)
  }
}

object MultiIntervalIndex {
  val none: Array[Int] = Array.emptyIntArray

  /** Flatten (lo, hi inclusive, id) into disjoint segments. Inverted
    * intervals (lo > hi) match nothing, like `BETWEEN`. */
  def build(intervals: Seq[(Long, Long, Int)]): MultiIntervalIndex = {
    // ids kept so far; adjacent sweep segments always differ in cover set,
    // so no kept segment is merged away
    var stored = 0L
    val rules = intervals.map(r => (r._1, r._2, 0L, r._3))
    val (ss, es, ls) = IntervalIndex.sweep(rules) { active =>
      val ids = active.map(_._4).toArray.sorted
      stored += ids.length
      require(stored <= IntervalJoin.maxStoredIds,
        s"IntervalJoin: flattened index exceeds ${IntervalJoin.maxStoredIds} " +
          "stored ids — the build side's intervals overlap too heavily to " +
          "broadcast; disable spark.graft.intervalJoin.enabled for this query")
      ids
    }(java.util.Arrays.equals(_, _))
    new MultiIntervalIndex(ss, es, ls)
  }
}

/** Broadcast interval-index join: collect + flatten + broadcast the build
  * side, stream the probe side through a binary-search lookup. Emits every
  * matching build row per probe row (plus the null-extended row for outer
  * joins with no match). `residual` is any extra join conjunct, evaluated on
  * the joined row before emission — for outer joins a residual-failed match
  * counts as no match, which is exactly Spark's outer-join contract. */
case class IntervalJoinExec(
    point: Expression, lo: Expression, hi: Expression,
    joinType: JoinType, buildLeft: Boolean, residual: Option[Expression],
    left: SparkPlan, right: SparkPlan)
  extends SparkPlan with BinaryExecNode {

  private def streamedPlan: SparkPlan = if (buildLeft) right else left
  private def buildPlan: SparkPlan = if (buildLeft) left else right

  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
    case _ => left.output ++ right.output
  }

  // the probe side is never moved: its partitioning survives the join
  override def outputPartitioning: Partitioning = streamedPlan.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val buildRows: Array[InternalRow] = buildPlan.executeCollect()
    val loB = BindReferences.bindReference(lo, buildPlan.output)
    val hiB = BindReferences.bindReference(hi, buildPlan.output)
    val intervals = buildRows.iterator.zipWithIndex.flatMap { case (r, i) =>
      val l = loB.eval(r); val h = hiB.eval(r)
      if (l == null || h == null) Iterator.empty // null bound matches nothing
      else Iterator.single((IntervalJoin.internalLong(l), IntervalJoin.internalLong(h), i))
    }.toSeq
    val bc = sparkContext.broadcast(
      (MultiIntervalIndex.build(intervals), buildRows))
    val pointB = BindReferences.bindReference(point, streamedPlan.output)
    val joinedAttrs = left.output ++ right.output
    val residualB = residual.map(BindReferences.bindReference(_, joinedAttrs))
    val emitNullRow = joinType == LeftOuter || joinType == RightOuter
    val buildArity = buildPlan.output.length
    val bl = buildLeft
    val outAttrs = output
    streamedPlan.execute().mapPartitions { iter =>
      val (idx, rows) = bc.value
      val joined = new JoinedRow
      val nulls = new GenericInternalRow(buildArity)
      // bind against `output`, not the raw child attrs: outer joins null-extend
      // the build side, and the projection must keep its null checks
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      def j(b: InternalRow, s: InternalRow): InternalRow =
        if (bl) joined(b, s) else joined(s, b)
      iter.flatMap { srow =>
        val p = pointB.eval(srow)
        val ids =
          if (p == null) MultiIntervalIndex.none
          else idx.lookup(IntervalJoin.internalLong(p))
        var emitted = false
        val matches: Iterator[InternalRow] = ids.iterator
          .map(i => j(rows(i), srow))
          .filter(r => residualB.forall(_.eval(r) == true)) // null ⇒ drop
          .map { r => emitted = true; r }
        val all =
          if (!emitNullRow) matches
          else matches ++ new Iterator[InternalRow] {
            // `++` pulls this only after `matches` is exhausted, so
            // `emitted` is final by the time hasNext runs
            private var done = false
            def hasNext: Boolean = !done && !emitted
            def next(): InternalRow = { done = true; j(nulls, srow) }
          }
        all.map(proj)
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"IntervalJoin $joinType, build=${if (buildLeft) "left" else "right"}, " +
      s"${point.sql} BETWEEN ${lo.sql} AND ${hi.sql}" +
      residual.map(r => s", residual=${r.sql}").getOrElse("")
}

/** Planner strategy: `fact JOIN dim ON pt >= lo AND pt <= hi [AND …]` →
  * [[IntervalJoinExec]] when the bound side is stats-small. Injected via
  * [[graft.GraftExtensions]] (`spark.sql.extensions`) or
  * `spark.experimental.extraStrategies`; extension strategies run before
  * Spark's own JoinSelection, so eligible joins never reach the
  * BroadcastNestedLoopJoin fallback. */
class IntervalJoinStrategy(session: SparkSession)
  extends SparkStrategy with PredicateHelper {

  private def confLong(key: String, dflt: Long): Long =
    try session.conf.get(key, dflt.toString).toLong catch { case _: NumberFormatException => dflt }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case DateType | TimestampType => true // day / microsecond integrals
    case _ => false
  }

  /** (point, bound, isLower) when `c` bounds an expression of one side by an
    * expression of the other; point side encoded as pointOnLeft. */
  private case class BoundCond(point: Expression, bound: Expression,
                               pointOnLeft: Boolean, isLower: Boolean,
                               src: Expression)

  private def classify(c: Expression, l: LogicalPlan, r: LogicalPlan): Option[BoundCond] = {
    def sideOf(e: Expression): Option[Boolean] = { // Some(true)=left only
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(l.outputSet)) Some(true)
      else if (refs.subsetOf(r.outputSet)) Some(false)
      else None
    }
    def mk(p: Expression, b: Expression, lower: Boolean): Option[BoundCond] =
      (sideOf(p), sideOf(b)) match {
        case (Some(ps), Some(bs))
            if ps != bs && integral(p) && p.dataType == b.dataType =>
          Some(BoundCond(p, b, ps, lower, c))
        case _ => None
      }
    c match {
      case GreaterThanOrEqual(a, b) => mk(a, b, lower = true).orElse(mk(b, a, lower = false))
      case LessThanOrEqual(a, b) => mk(a, b, lower = false).orElse(mk(b, a, lower = true))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(l, r, joinType @ (Inner | LeftOuter | RightOuter), Some(cond), hint)
        if session.conf.get(IntervalJoin.enabledKey, "true").toBoolean =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = conjuncts.flatMap(c => classify(c, l, r))
      val pairs = for {
        lower <- bounds if lower.isLower
        upper <- bounds
        if !upper.isLower && upper.pointOnLeft == lower.pointOnLeft &&
          upper.point.semanticEquals(lower.point)
      } yield (lower, upper)
      pairs.headOption.toSeq.flatMap { case (lower, upper) =>
        val buildIsLeft = !lower.pointOnLeft
        val typeOk = joinType match {
          case Inner => true
          case LeftOuter => !buildIsLeft // outer side must stream
          case RightOuter => buildIsLeft
          case _ => false // unreachable: outer pattern admits only the three
        }
        val buildPlanLogical = if (buildIsLeft) l else r
        val small = buildPlanLogical.stats.sizeInBytes <=
          confLong(IntervalJoin.maxBuildKey, IntervalJoin.defaultMaxBuild)
        if (!typeOk || !small) Nil
        else {
          val residual = conjuncts
            .filterNot(c => c.fastEquals(lower.src) || c.fastEquals(upper.src))
            .reduceOption(And)
          IntervalJoinExec(lower.point, lower.bound, upper.bound,
            joinType, buildIsLeft, residual,
            planLater(l), planLater(r)) :: Nil
        }
      }
    case _ => Nil
  }
}
