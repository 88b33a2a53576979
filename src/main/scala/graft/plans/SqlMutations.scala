package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.sinks.LakeDelete
import graft.sources.{Snapshots, ZLake}

/** SQL spellings for the lake's MUTATION + VERSIONING layer (r9 verdict
  * #8): a SQL-only user could read a lake (`USING zlake`, snapshot
  * OPTIONS) but not mutate one. Two standard hooks close the gap:
  *
  *  - [[GraftDml]] (a post-hoc resolution rule, the Delta pattern):
  *    Spark's own parser already produces `DeleteFromTable` /
  *    `MergeIntoTable` for ANSI `DELETE FROM t WHERE p` and
  *    `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  *    WHEN NOT MATCHED THEN INSERT *`; when the (resolved) target peels
  *    to a live zlake relation, the plan becomes a runnable command over
  *    [[LakeDelete.deleteFromLake]] / [[LakeDelete.upsertLake]] — same
  *    journaled, envelope-triaged, crash-safe path as the Scala API.
  *    CONDITIONED merges (r11) map too, via
  *    [[LakeDelete.mergeLake]]: `WHEN MATCHED [AND c] THEN UPDATE SET
  *    <subset>` (values over both sides), `WHEN MATCHED [AND c] THEN
  *    DELETE`, and a conditional name-for-name `INSERT *`, first-match
  *    precedence, one journal. Anything still outside those shapes
  *    (non-equi or multi-column keys, not-matched-by-source actions,
  *    reshuffled INSERT columns, schema evolution, snapshot/time-travel
  *    targets, streaming relations) is left untouched, so Spark's
  *    standard "only supported with v2 tables" analysis error still
  *    fires rather than silently doing the wrong merge.
  *  - [[GraftSqlParser]] (a delegating parser injection): maintenance
  *    verbs with no ANSI spelling, as `CALL graft.<proc>(...)` with
  *    string-literal arguments —
  *    {{{
  *    CALL graft.snapshot('/lake/t', 'v1')
  *    CALL graft.snapshots('/lake/t')            -- list tags
  *    CALL graft.vacuum('/lake/t', 'v1', 'v2')   -- keep only v1, v2
  *    CALL graft.delete('/lake/t', 'a < 16')     -- predicate in SQL
  *    CALL graft.upsert('/lake/t', 'updates_view', 'k')
  *    CALL graft.manifest('/lake/t')             -- per-file stats rows
  *    CALL graft.compact('/lake/t', 'a', 'b', '4')  -- windowed OPTIMIZE
  *    CALL graft.rewrite('/lake/t', 'a', 'b', '8')  -- flat-lake rewrite
  *    CALL graft.constraint_add('/lake/t', 'pos', 'amount >= 0')
  *    CALL graft.constraint_drop('/lake/t', 'pos')
  *    CALL graft.constraints('/lake/t')          -- list CHECKs
  *    CALL graft.delete_mor('/lake/t', 'id = 7') -- merge-on-read delete
  *    CALL graft.dv_compact('/lake/t')           -- materialize vectors
  *    CALL graft.bucket_compact('/lake/t')       -- within-bucket compact
  *    CALL graft.export('/lake/t', 'v1', '/dest') -- snapshot → new lake
  *    CALL graft.restore('/lake/t', 'v1')         -- roll back to snapshot
  *    CALL graft.snapshot_all('v1', '/lake/a', '/lake/b') -- group pin
  *    CALL graft.restore_all('v1', '/lake/a', '/lake/b')  -- group rollback
  *    -- 'index:<path>' members pin/restore a derived index's GENERATION
  *    -- (BM25 postings / IVF assignment) with the group:
  *    CALL graft.snapshot_all('v1', '/lake/a', 'index:/idx/bm25')
  *    CALL graft.index_snapshot('/idx/bm25', 'v1')   -- single-index pin
  *    CALL graft.index_restore('/idx/bm25', 'v1')
  *    CALL graft.index_snapshots('/idx/bm25')        -- list pins
  *    }}}
  *    Everything else delegates to Spark's parser verbatim.
  *
  * Each command returns a small report row (files triaged / rows moved),
  * mirroring the Scala API's report case classes.
  */
object GraftDml {

  /** The live-lake root a DML target resolves to, if any. Snapshot-pinned
    * and streaming relations return None — DML must keep Spark's refusal
    * path for those. */
  private[plans] def zlakeRoot(plan: LogicalPlan): Option[String] = {
    @annotation.tailrec
    def unwrap(p: LogicalPlan): Option[LogicalRelation] = p match {
      case s: SubqueryAlias => unwrap(s.child)
      case v: View => unwrap(v.child)
      case l: LogicalRelation => Some(l)
      case _ => None
    }
    unwrap(plan).filterNot(_.isStreaming).flatMap(_.relation match {
      case h: HadoopFsRelation => h.location match {
        case idx: ZLake.StatsFileIndex if idx.snapshotTag.isEmpty =>
          idx.rootPaths.headOption.map(_.toString)
        case _ => None
      }
      case _ => None
    })
  }

  /** Column names of the DML target, for projecting the merge source. */
  private def targetCols(plan: LogicalPlan): Seq[String] =
    plan.output.map(_.name)

  /** The single same-named equi-key of a merge condition, if that is the
    * whole condition. */
  private def equiKey(m: MergeIntoTable): Option[String] =
    m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            // one side each, whichever order the user wrote them in
            ((m.targetTable.outputSet.contains(a) &&
              m.sourceTable.outputSet.contains(b)) ||
             (m.targetTable.outputSet.contains(b) &&
              m.sourceTable.outputSet.contains(a))) => Some(a.name)
      case _ => None
    }

  /** The keyed-upsert MERGE shape: single same-named equi-condition,
    * `WHEN MATCHED THEN UPDATE SET *`, `WHEN NOT MATCHED THEN INSERT *`
    * (either as the star actions or as their analyzer-expanded
    * name-for-name assignment lists covering every target column), no
    * not-matched-by-source actions, no schema evolution. Returns the key
    * column name. */
  private[plans] def upsertShape(m: MergeIntoTable): Option[String] = {
    if (m.notMatchedBySourceActions.nonEmpty || m.withSchemaEvolution)
      return None
    val key = equiKey(m).getOrElse(return None)
    val wanted = targetCols(m.targetTable).map(_.toLowerCase).toSet
    def nameForName(assigns: Seq[Assignment]): Boolean =
      assigns.forall {
        case Assignment(t: AttributeReference, v: AttributeReference) =>
          t.name.equalsIgnoreCase(v.name) &&
            m.sourceTable.outputSet.contains(v)
        case _ => false
      } && assigns.map(_.key match {
        case t: AttributeReference => t.name.toLowerCase
        case _ => return false
      }).toSet == wanted
    val matchedOk = m.matchedActions match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, assigns, _)) => nameForName(assigns)
      case _ => false
    }
    val notMatchedOk = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) => nameForName(assigns)
      case _ => false
    }
    if (matchedOk && notMatchedOk) Some(key) else None
  }

  /** Opaque box keeping clause expressions OUT of the command node's
    * expression traversal: analyzer rules (UpdateAttributeNullability et
    * al.) recurse into Option/Seq-nested Expressions of every plan node,
    * and the re-anchored `t`/`s` UnresolvedAttributes must not be
    * visited before run() resolves them against the runtime join. */
  private[plans] final case class ExprBox(e: Expression)

  /** One extracted matched clause: rewritten condition (None = always),
    * assignments (None = DELETE). */
  private[plans] final case class MatchedSpec(
      condition: Option[ExprBox],
      assignments: Option[Seq[(String, ExprBox)]])

  /** The CONDITIONED MERGE shape ([[upsertShape]]'s generalization, the
    * common CDC spelling): same single equi-key, but matched actions may
    * be `WHEN MATCHED [AND c] THEN UPDATE SET <subset>` (values any
    * expression over both sides) or `WHEN MATCHED [AND c] THEN DELETE`,
    * plus at most one `WHEN NOT MATCHED [AND c] THEN INSERT *` (star or
    * name-for-name; its condition may reference only the source — there
    * is no target row to read). Attribute references are re-anchored by
    * exprId onto the `t`/`s` aliases [[graft.sinks.LakeDelete.mergeLake]]
    * joins under, so same-named target/source columns stay distinct.
    * Still refused (Spark's own error path keeps firing):
    * not-matched-by-source actions, schema evolution, non-equi or
    * multi-column keys, INSERT with reshuffled assignments. */
  private[plans] def conditionedShape(m: MergeIntoTable)
      : Option[(String, Seq[MatchedSpec], Option[Option[ExprBox]])] = {
    if (m.notMatchedBySourceActions.nonEmpty || m.withSchemaEvolution)
      return None
    val key = equiKey(m).getOrElse(return None)
    val srcIds = m.sourceTable.outputSet.map(_.exprId).toSet
    val tgtIds = m.targetTable.outputSet.map(_.exprId).toSet
    def alias(e: Expression, allowTarget: Boolean): Option[ExprBox] = {
      var ok = true
      val out = e.transform {
        case a: AttributeReference =>
          if (srcIds.contains(a.exprId)) UnresolvedAttribute(Seq("s", a.name))
          else if (tgtIds.contains(a.exprId) && allowTarget)
            UnresolvedAttribute(Seq("t", a.name))
          else { ok = false; a }
      }
      if (ok) Some(ExprBox(out)) else None
    }
    val tCols = targetCols(m.targetTable)
    def starAssigns: Seq[(String, ExprBox)] =
      tCols.map(c => c -> ExprBox(UnresolvedAttribute(Seq("s", c))))
    def plain(assigns: Seq[Assignment])
        : Option[Seq[(String, ExprBox)]] = {
      val out = assigns.map {
        case Assignment(k: AttributeReference, v) =>
          (k.name, alias(v, allowTarget = true).getOrElse(return None))
        case _ => return None
      }
      Some(out)
    }
    val matched: Seq[MatchedSpec] = m.matchedActions.map {
      case UpdateStarAction(c) =>
        MatchedSpec(c.map(alias(_, allowTarget = true)
          .getOrElse(return None)), Some(starAssigns))
      case UpdateAction(c, assigns, _) =>
        MatchedSpec(c.map(alias(_, allowTarget = true)
          .getOrElse(return None)),
          Some(plain(assigns).getOrElse(return None)))
      case DeleteAction(c) =>
        MatchedSpec(c.map(alias(_, allowTarget = true)
          .getOrElse(return None)), None)
      case _ => return None
    }
    // name-for-name insert only; condition may reference only the source
    val insert: Option[Option[ExprBox]] = m.notMatchedActions match {
      case Nil => None
      case Seq(InsertStarAction(c)) =>
        Some(c.map(alias(_, allowTarget = false).getOrElse(return None)))
      case Seq(InsertAction(c, assigns)) =>
        val nameForName = assigns.forall {
          case Assignment(t: AttributeReference, v: AttributeReference) =>
            t.name.equalsIgnoreCase(v.name) &&
              m.sourceTable.outputSet.contains(v)
          case _ => false
        } && assigns.map(_.key match {
          case t: AttributeReference => t.name.toLowerCase
          case _ => return None
        }).toSet == tCols.map(_.toLowerCase).toSet
        if (!nameForName) return None
        Some(c.map(alias(_, allowTarget = false).getOrElse(return None)))
      case _ => return None
    }
    if (matched.isEmpty && insert.isEmpty) None
    else Some((key, matched, insert))
  }
}

/** Post-hoc resolution rule converting ANSI DML over live zlake targets
  * into journaled lake mutations. See [[GraftDml$]]. */
case class GraftDml(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, cond)
        if target.resolved && cond.resolved =>
      zlakeRoot(target)
        .map(GraftDeleteCommand(_, cond)).getOrElse(d)
    case m: MergeIntoTable
        if m.targetTable.resolved && m.sourceTable.resolved =>
      zlakeRoot(m.targetTable) match {
        case Some(root) => upsertShape(m) match {
          case Some(key) =>
            GraftUpsertCommand(root, m.sourceTable,
              m.targetTable.output.map(_.name), key)
          case None => conditionedShape(m) match {
            case Some((key, clauses, insert)) =>
              GraftMergeCommand(root, m.sourceTable,
                m.sourceTable.output.map(_.name), key, clauses, insert)
            case None => m
          }
        }
        case None => m
      }
    // INSERT INTO a zlake view: by post-hoc time Spark's own
    // DataSourceAnalysis has already turned the statement into an
    // InsertIntoHadoopFsRelationCommand (our relation IS insertable —
    // but its raw write would drop files into the lake without manifests
    // or the journal). Reroute APPEND mode through the journaled path;
    // OVERWRITE keeps Spark's native semantics (a whole-table/partition
    // REPLACEMENT, documented as outside the incremental-maintenance
    // contract).
    case i: org.apache.spark.sql.execution.datasources
        .InsertIntoHadoopFsRelationCommand
        if i.mode == org.apache.spark.sql.SaveMode.Append &&
          i.staticPartitions.isEmpty && i.bucketSpec.isEmpty &&
          i.query.resolved &&
          i.fileIndex.exists {
            case idx: ZLake.StatsFileIndex => idx.snapshotTag.isEmpty
            case _ => false
          } =>
      GraftAppendCommand(
        i.fileIndex.get.rootPaths.head.toString, i.query,
        i.outputColumnNames)
    case u @ UpdateTable(target, assignments, condition)
        if target.resolved && condition.forall(_.resolved) &&
          assignments.forall(a => a.key.resolved && a.value.resolved) =>
      (zlakeRoot(target), plainAssignments(assignments)) match {
        case (Some(root), Some(sets)) =>
          GraftUpdateCommand(root, sets,
            condition.getOrElse(Literal.TrueLiteral))
        case _ => u
      }
    case other => other
  }

  /** Assignment keys must be plain column references (no nested-field
    * updates); values stay arbitrary resolved expressions. */
  private def plainAssignments(
      as: Seq[Assignment]): Option[Seq[(String, Expression)]] = {
    val out = as.map {
      case Assignment(k: AttributeReference, v) => (k.name, v)
      case _ => return None
    }
    Some(out)
  }
}

/** `DELETE FROM <zlake> WHERE p` — runs the journaled copy-on-write
  * delete and reports the triage. The condition re-anchors by NAME onto a
  * fresh lake read (the analyzed target's attribute ids are useless
  * against the re-planned relation inside [[LakeDelete]]). */
case class GraftDeleteCommand(root: String, cond: Expression)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_total", IntegerType)(),
    AttributeReference("files_untouched", IntegerType)(),
    AttributeReference("files_dropped_whole", IntegerType)(),
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("rows_deleted", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val byName = cond.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
    val rep = LakeDelete.deleteFromLake(spark, root,
      ColumnBridge.column(byName))
    Seq(Row(rep.filesTotal, rep.filesUntouched, rep.filesDroppedWhole,
      rep.filesRewritten, rep.rowsDeleted))
  }
}

/** `INSERT INTO <zlake> SELECT ...` — journaled append
  * ([[LakeDelete.appendLake]]): staged files + journal, manifests
  * repaired, so SQL inserts keep the lake's coverage and zero-footer
  * planning. `cols` are the target-aligned output names Spark's insert
  * preprocessing already arranged the query to produce. */
case class GraftAppendCommand(root: String, source: LogicalPlan,
                              cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_added", IntegerType)(),
    AttributeReference("rows_inserted", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rows = PlanBridge.dataFrame(spark, source).toDF(cols: _*)
    val rep = LakeDelete.appendLake(spark, root, rows)
    Seq(Row(rep.filesAdded, rep.rowsInserted))
  }
}

/** `UPDATE <zlake> SET c = e, ... WHERE p` — the copy-on-write update
  * ([[LakeDelete.updateLake]]): envelope triage, an exact per-directory
  * match count (zero-match dirs stay byte-untouched), one staged rewrite
  * job, journal commit. Assignments and condition re-anchor by NAME. */
case class GraftUpdateCommand(root: String,
                              sets: Seq[(String, Expression)],
                              cond: Expression)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_total", IntegerType)(),
    AttributeReference("files_untouched", IntegerType)(),
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("rows_updated", LongType)())

  private def byName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val rep = LakeDelete.updateLake(spark, root,
      sets.map { case (n, v) => n -> ColumnBridge.column(byName(v)) },
      ColumnBridge.column(byName(cond)))
    Seq(Row(rep.filesTotal, rep.filesUntouched, rep.filesRewritten,
      rep.rowsUpdated))
  }
}

/** The keyed-upsert MERGE: every target row whose `keyCol` appears in the
  * source is replaced, all source rows insert — one journaled atomic
  * commit ([[LakeDelete.upsertLake]]). `cols` projects the source to the
  * target's columns (MERGE sources may carry extras). */
case class GraftUpsertCommand(root: String, source: LogicalPlan,
                              cols: Seq[String], keyCol: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_added", IntegerType)(),
    AttributeReference("rows_inserted", LongType)(),
    AttributeReference("rows_replaced", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val updates = PlanBridge.dataFrame(spark, source)
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rep = LakeDelete.upsertLake(spark, root, updates, keyCol)
    Seq(Row(rep.filesAdded, rep.rowsInserted, rep.delete.rowsDeleted))
  }
}

/** `MERGE INTO <zlake> ... WHEN MATCHED [AND c] THEN UPDATE SET <subset>
  * / DELETE [WHEN NOT MATCHED [AND c] THEN INSERT *]` — the conditioned
  * shapes [[GraftDml.conditionedShape]] extracts, run through
  * [[LakeDelete.mergeLake]]. Clause expressions arrive re-anchored onto
  * the `t`/`s` aliases and resolve against the runtime join. */
case class GraftMergeCommand(root: String, source: LogicalPlan,
                             srcCols: Seq[String], keyCol: String,
                             matched: Seq[GraftDml.MatchedSpec],
                             insert: Option[Option[GraftDml.ExprBox]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_updated", LongType)(),
    AttributeReference("rows_deleted", LongType)(),
    AttributeReference("rows_inserted", LongType)(),
    AttributeReference("files_added", IntegerType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = PlanBridge.dataFrame(spark, source)
      .select(srcCols.map(org.apache.spark.sql.functions.col): _*)
    def c(b: GraftDml.ExprBox) = ColumnBridge.column(b.e)
    val clauses = matched.map(ms => LakeDelete.MergeMatched(
      ms.condition.map(c), ms.assignments.map(_.map {
        case (k, v) => (k, c(v))
      })))
    val rep = LakeDelete.mergeLake(spark, root, src, keyCol, clauses,
      insert.map(_.map(c)))
    Seq(Row(rep.rowsUpdated, rep.rowsDeleted, rep.rowsInserted,
      rep.filesAdded))
  }
}

/** `CALL graft.snapshots(root)` — list snapshot tags (read-only). */
case class GraftSnapshotsListCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("snapshot", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    Snapshots.listSnapshots(spark, root).map(Row(_))
}

/** `CALL graft.manifest(root)` — per-file manifest stats (DESCRIBE
  * DETAIL at file grain): relative path, partition dir, rows, bytes,
  * row groups, whether sketches/blooms/sums ride the entry. Metadata
  * only — zero data files opened on a manifest-covered lake. */
case class GraftManifestCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType)(),
    AttributeReference("partition", StringType)(),
    AttributeReference("rows", LongType)(),
    AttributeReference("bytes", LongType)(),
    AttributeReference("row_groups", IntegerType)(),
    AttributeReference("stats", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    ZLake.envelopes(spark, root).map { fe =>
      val relp = ZLake.relPath(rootPath, fe.status.getPath)
      val part = fe.partitionValues
        .map { case (k, v) => s"$k=$v" }.mkString("/")
      val stats = Seq(
        if (fe.sketches.nonEmpty) Some("sketches") else None,
        if (fe.blooms.nonEmpty) Some("blooms") else None,
        if (fe.sums.nonEmpty) Some("sums") else None).flatten.mkString(",")
      Row(relp, part, fe.rows, fe.status.getLen, fe.rowGroups, stats)
    }
  }
}

/** `CALL graft.compact(root, colA, colB [, filesPerPartition])` — the
  * per-window OPTIMIZE for partitioned lakes ([[graft.sinks.Sinks
  * .compactLake]]); one report row per compacted window. */
case class GraftCompactCommand(root: String, colA: String, colB: String,
                               filesPerPartition: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("dir", StringType)(),
    AttributeReference("files_before", IntegerType)(),
    AttributeReference("files_after", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.sinks.Sinks.compactLake(spark, root, colA, colB,
      filesPerPartition = filesPerPartition)
      .map(r => Row(r.dir, r.filesBefore, r.filesAfter))
}

/** `CALL graft.rewrite(root, colA, colB, numFiles)` — journal-atomic
  * whole-lake rewrite for FLAT lakes ([[LakeDelete.rewriteLake]]). */
case class GraftRewriteCommand(root: String, colA: String, colB: String,
                               numFiles: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", IntegerType)(),
    AttributeReference("files_after", IntegerType)(),
    AttributeReference("rows", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val r = LakeDelete.rewriteLake(spark, root, (colA, colB), numFiles)
    Seq(Row(r.filesBefore, r.filesAfter, r.rows))
  }
}

/** `CALL graft.snapshot(root, tag)`. */
case class GraftSnapshotCommand(root: String, tag: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("snapshot", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshots.snapshot(spark, root, tag)
    Seq(Row(tag))
  }
}

/** `CALL graft.vacuum(root, keepTags...)`. */
case class GraftVacuumCommand(root: String, keep: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("snapshots_dropped", IntegerType)(),
    AttributeReference("trash_files_deleted", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = Snapshots.vacuum(spark, root, keep)
    Seq(Row(rep.snapshotsDropped.size, rep.trashFilesDeleted))
  }
}

object GraftSqlParser {
  private val CallRe =
    """(?is)^\s*CALL\s+graft\s*\.\s*(\w+)\s*\((.*)\)\s*;?\s*$""".r

  /** Split `'a', 'b''c', 'd'` into unquoted values; None when the text is
    * not a well-formed list of single-quoted string literals. */
  private[plans] def stringArgs(s: String): Option[Seq[String]] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = s.length
    def skipWs(): Unit = while (i < n && s(i).isWhitespace) i += 1
    skipWs()
    if (i == n) return Some(Nil)
    var expectValue = true
    while (i < n) {
      if (expectValue) {
        if (s(i) != '\'') return None
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          if (s(i) == '\'') {
            if (i + 1 < n && s(i + 1) == '\'') { sb += '\''; i += 2 }
            else { closed = true; i += 1 }
          } else { sb += s(i); i += 1 }
        }
        if (!closed) return None
        out += sb.result()
        expectValue = false
        skipWs()
      } else {
        if (s(i) != ',') return None
        i += 1
        skipWs()
        expectValue = true
        if (i == n) return None // trailing comma
      }
    }
    if (expectValue) None else Some(out.result())
  }

  /** The `CALL graft.<proc>(...)` grammar, or None to delegate. A
    * recognized CALL with bad arguments throws (delegating would just
    * produce Spark's unhelpful generic parse error). */
  private[plans] def parseCall(delegate: ParserInterface,
                               sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case CallRe(proc, rawArgs) =>
        val args = stringArgs(rawArgs).getOrElse(throw new IllegalArgumentException(
          s"CALL graft.$proc expects single-quoted string arguments, " +
            s"got: ($rawArgs)"))
        def arity(ok: Boolean, usage: String): Unit =
          if (!ok) throw new IllegalArgumentException(
            s"usage: CALL graft.$usage")
        proc.toLowerCase match {
          case "snapshot" =>
            arity(args.length == 2, "snapshot('<root>', '<tag>')")
            Some(GraftSnapshotCommand(args(0), args(1)))
          case "snapshots" =>
            arity(args.length == 1, "snapshots('<root>')")
            Some(GraftSnapshotsListCommand(args(0)))
          case "manifest" =>
            arity(args.length == 1, "manifest('<root>')")
            Some(GraftManifestCommand(args(0)))
          case "compact" =>
            arity(args.length == 3 || args.length == 4,
              "compact('<root>', '<colA>', '<colB>' [, '<filesPerPartition>'])")
            Some(GraftCompactCommand(args(0), args(1), args(2),
              if (args.length == 4) args(3).trim.toInt else 4))
          case "rewrite" =>
            arity(args.length == 4,
              "rewrite('<root>', '<colA>', '<colB>', '<numFiles>')")
            Some(GraftRewriteCommand(args(0), args(1), args(2),
              args(3).trim.toInt))
          case "vacuum" =>
            arity(args.nonEmpty, "vacuum('<root>' [, '<keepTag>'...])")
            Some(GraftVacuumCommand(args.head, args.tail))
          case "constraint_add" =>
            arity(args.length == 3,
              "constraint_add('<root>', '<name>', '<boolean expr>')")
            delegate.parseExpression(args(2)) // malformed expr: fail at parse
            Some(GraftConstraintAddCommand(args(0), args(1), args(2)))
          case "constraint_drop" =>
            arity(args.length == 2, "constraint_drop('<root>', '<name>')")
            Some(GraftConstraintDropCommand(args(0), args(1)))
          case "constraints" =>
            arity(args.length == 1, "constraints('<root>')")
            Some(GraftConstraintsListCommand(args(0)))
          case "delete" =>
            arity(args.length == 2, "delete('<root>', '<predicate>')")
            delegate.parseExpression(args(1)) // malformed predicate: fail at parse
            Some(GraftDeleteRun(args(0), args(1)))
          case "delete_mor" =>
            arity(args.length == 2, "delete_mor('<root>', '<predicate>')")
            delegate.parseExpression(args(1))
            Some(GraftDeleteMoRRun(args(0), args(1)))
          case "dv_compact" =>
            arity(args.length == 1, "dv_compact('<root>')")
            Some(GraftDvCompactCommand(args(0)))
          case "bucket_compact" =>
            arity(args.length == 1 || args.length == 2,
              "bucket_compact('<root>'[, '<targetFilesPerBucket>'])")
            Some(GraftBucketCompactCommand(args(0),
              if (args.length == 2) args(1).toInt else 1))
          case "export" =>
            arity(args.length == 3,
              "export('<root>', '<snapshot tag>', '<dest>')")
            Some(GraftExportCommand(args(0), args(1), args(2)))
          case "restore" =>
            arity(args.length == 2, "restore('<root>', '<snapshot tag>')")
            Some(GraftRestoreCommand(args(0), args(1)))
          case "snapshot_all" =>
            arity(args.length >= 2,
              "snapshot_all('<tag>', '<root>'[, 'index:<path>'...])")
            Some(GraftSnapshotAllCommand(args.head, args.tail))
          case "restore_all" =>
            arity(args.length >= 2,
              "restore_all('<tag>', '<root>'[, 'index:<path>'...])")
            Some(GraftRestoreAllCommand(args.head, args.tail))
          case "index_snapshot" =>
            arity(args.length == 2, "index_snapshot('<index root>', '<tag>')")
            Some(GraftIndexSnapshotCommand(args(0), args(1)))
          case "index_restore" =>
            arity(args.length == 2, "index_restore('<index root>', '<tag>')")
            Some(GraftIndexRestoreCommand(args(0), args(1)))
          case "index_snapshots" =>
            arity(args.length == 1, "index_snapshots('<index root>')")
            Some(GraftIndexSnapshotsListCommand(args(0)))
          case "upsert" =>
            arity(args.length == 3,
              "upsert('<root>', '<source view>', '<keyCol>')")
            delegate.parseMultipartIdentifier(args(1)) // validate the name
            Some(GraftUpsertRun(args(0), args(1), args(2)))
          case _ => None // unknown proc: let Spark report the parse error
        }
      case _ => None
    }
}

/** `CALL graft.constraint_add(root, name, expr)` — add (or replace) a
  * named CHECK constraint ([[graft.sinks.LakeConstraints.add]]):
  * validates existing rows first, then every later INSERT / MERGE /
  * UPDATE / appendLake / upsertLake batch is enforced against it. */
case class GraftConstraintAddCommand(root: String, name: String,
                                     exprSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint", StringType)(),
    AttributeReference("expr", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sinks.LakeConstraints.add(spark, root, name, exprSql)
    Seq(Row(name, exprSql))
  }
}

/** `CALL graft.constraint_drop(root, name)`. */
case class GraftConstraintDropCommand(root: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("dropped", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sinks.LakeConstraints.drop(spark, root, name)
    Seq(Row(name))
  }
}

/** `CALL graft.constraints(root)` — list (read-only). */
case class GraftConstraintsListCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint", StringType)(),
    AttributeReference("expr", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.sinks.LakeConstraints.list(spark, root)
      .map(c => Row(c.name, c.sqlExpr))
}

/** The CALL-delete twin of [[GraftDeleteCommand]]: the predicate stays a
  * SQL STRING (a command cannot carry an unresolved expression through
  * checkAnalysis) and parses against the lake at run time. */
case class GraftDeleteRun(root: String, predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDeleteCommand(root,
    Literal(true)).output
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = LakeDelete.deleteFromLake(spark, root,
      org.apache.spark.sql.functions.expr(predicateSql))
    Seq(Row(rep.filesTotal, rep.filesUntouched, rep.filesDroppedWhole,
      rep.filesRewritten, rep.rowsDeleted))
  }
}

/** The CALL-upsert twin of [[GraftUpsertCommand]]: resolves its source
  * view BY NAME at run time and takes all of the source's columns. */
case class GraftUpsertRun(root: String, sourceName: String, keyCol: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_added", IntegerType)(),
    AttributeReference("rows_inserted", LongType)(),
    AttributeReference("rows_replaced", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = LakeDelete.upsertLake(spark, root, spark.table(sourceName),
      keyCol)
    Seq(Row(rep.filesAdded, rep.rowsInserted, rep.delete.rowsDeleted))
  }
}

/** `CALL graft.delete_mor(root, predicate)` — merge-on-read DELETE
  * ([[graft.sinks.DeletionVectors.deleteMoR]]): positions recorded, no
  * data file rewritten; the point-delete fast path. */
case class GraftDeleteMoRRun(root: String, predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_total", IntegerType)(),
    AttributeReference("files_touched", IntegerType)(),
    AttributeReference("rows_deleted", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = graft.sinks.DeletionVectors.deleteMoR(spark, root,
      org.apache.spark.sql.functions.expr(predicateSql))
    Seq(Row(rep.filesTotal, rep.filesTouched, rep.rowsDeleted))
  }
}

/** `CALL graft.dv_compact(root)` — materialize the deletion vectors
  * ([[graft.sinks.DeletionVectors.compact]]). */
case class GraftDvCompactCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType)(),
    AttributeReference("rows_dropped", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = graft.sinks.DeletionVectors.compact(spark, root)
    Seq(Row(rep.filesRewritten, rep.rowsDropped))
  }
}

/** `CALL graft.export(root, tag, dest)` — materialize snapshot `tag` as
  * a new independent lake ([[graft.sources.Snapshots.export]]). */
case class GraftExportCommand(root: String, tag: String, dest: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_copied", IntegerType)(),
    AttributeReference("bytes_copied", LongType)(),
    AttributeReference("dv_stores_copied", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = Snapshots.export(spark, root, tag, dest)
    Seq(Row(rep.filesCopied, rep.bytesCopied, rep.dvStoresCopied))
  }
}

/** `CALL graft.snapshot_all(tag, root...)` — pin N lakes consistently
  * under one tag ([[graft.sources.Snapshots.snapshotTables]]): every
  * writer lock held across the group, all-or-nothing. */
case class GraftSnapshotAllCommand(tag: String, roots: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType)(),
    AttributeReference("tables", IntegerType)(),
    AttributeReference("indexes", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    // an 'index:<path>'-prefixed member is a DERIVED-INDEX root: its
    // GENERATION pins under the same tag while every lake lock is held
    val (idx, lakes) = roots.partition(_.startsWith("index:"))
    val idxRoots = idx.map(_.stripPrefix("index:"))
    Snapshots.snapshotTables(spark, lakes, tag, indexRoots = idxRoots)
    Seq(Row(tag, lakes.distinct.size, idxRoots.distinct.size))
  }
}

/** `CALL graft.restore_all(tag, root...)` — roll N lakes back to one
  * group tag ([[graft.sources.Snapshots.restoreTables]]): all writer
  * locks held across the group, every table prechecked before any
  * mutates. One row per table. */
case class GraftRestoreAllCommand(tag: String, roots: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("root", StringType)(),
    AttributeReference("files_kept", IntegerType)(),
    AttributeReference("files_restored", IntegerType)(),
    AttributeReference("files_dropped", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (idx, lakes) = roots.partition(_.startsWith("index:"))
    val idxRoots = idx.map(_.stripPrefix("index:"))
    Snapshots.restoreTables(spark, lakes, tag, indexRoots = idxRoots)
      .toSeq.sortBy(_._1)
      .map { case (r, rep) =>
        Row(r, rep.filesKept, rep.filesRestored, rep.filesDropped) }
  }
}

/** `CALL graft.index_snapshot(indexRoot, tag)` — pin a derived index's
  * GENERATION ([[graft.operators.IndexSnapshots.snapshot]]): pointer,
  * active-dir file identities, stats sidecar, companion dirs. */
case class GraftIndexSnapshotCommand(root: String, tag: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.operators.IndexSnapshots.snapshot(spark, root, tag)
    Seq(Row(tag))
  }
}

/** `CALL graft.index_restore(indexRoot, tag)` — republish the pinned
  * generation ([[graft.operators.IndexSnapshots.restore]]). */
case class GraftIndexRestoreCommand(root: String, tag: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_restored", IntegerType)(),
    AttributeReference("version", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = graft.operators.IndexSnapshots.restore(spark, root, tag)
    Seq(Row(rep.filesRestored, rep.newVersion))
  }
}

/** `CALL graft.index_snapshots(indexRoot)` — list generation pins. */
case class GraftIndexSnapshotsListCommand(root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.operators.IndexSnapshots.list(spark, root).map(Row(_))
}

/** `CALL graft.restore(root, tag)` — roll the live lake back to snapshot
  * `tag` in place ([[graft.sources.Snapshots.restore]]): Delta's
  * `RESTORE TABLE ... TO VERSION AS OF` verb, journal-atomic. */
case class GraftRestoreCommand(root: String, tag: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_kept", IntegerType)(),
    AttributeReference("files_restored", IntegerType)(),
    AttributeReference("files_dropped", IntegerType)(),
    AttributeReference("dv_stores_restored", IntegerType)(),
    AttributeReference("dv_stores_dropped", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = Snapshots.restore(spark, root, tag)
    Seq(Row(rep.filesKept, rep.filesRestored, rep.filesDropped,
      rep.dvStoresRestored, rep.dvStoresDropped))
  }
}

/** `CALL graft.bucket_compact(root[, target])` — within-bucket
  * compaction of a bucketed lake
  * ([[graft.sinks.Sinks.compactBucketedLake]]): small files pool inside
  * their own bucket, deletion vectors materialize, the co-location
  * contract survives. */
case class GraftBucketCompactCommand(root: String, target: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("buckets_compacted", IntegerType)(),
    AttributeReference("files_before", IntegerType)(),
    AttributeReference("files_after", IntegerType)(),
    AttributeReference("dv_rows_materialized", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val rep = graft.sinks.Sinks.compactBucketedLake(spark, root, target)
    Seq(Row(rep.bucketsCompacted, rep.filesBefore, rep.filesAfter,
      rep.dvRowsMaterialized))
  }
}

/** Delegating parser: intercepts `CALL graft.*`, hands every other text
  * (and every other parse entry point) to Spark's parser. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseCall(delegate, sqlText)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
