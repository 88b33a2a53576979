package graft.sinks

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, count, expr, lit, sum, when}

/** Declarative CHECK constraints on a z-lake (the Delta
  * `ALTER TABLE ADD CONSTRAINT` shape): named boolean SQL expressions
  * persisted in a `_graft_constraints.json` sidecar at the lake root and
  * ENFORCED on every ingest path — [[LakeDelete.appendLake]] (and thus
  * SQL `INSERT INTO`), [[LakeDelete.upsertLake]]'s insert lane (and thus
  * `MERGE INTO`), and [[LakeDelete.updateLake]]'s post-image (and thus
  * SQL `UPDATE`) — so governance invariants (`amount >= 0`,
  * `key IS NOT NULL`, enum membership) hold no matter which writer or
  * SQL statement feeds the lake.
  *
  * Semantics match Delta/ANSI: a row VIOLATES a constraint when the
  * expression is FALSE — NULL passes (write `x IS NOT NULL` to demand
  * presence). Adding a constraint validates the EXISTING data first (one
  * aggregate scan) and refuses if any current row violates — a
  * constraint the lake doesn't satisfy would make every later mutation's
  * rewrite lane fail spuriously.
  *
  * Enforcement cost: ONE aggregate job over the batch computing every
  * constraint's violation count together (sum of `NOT coalesce(c,
  * true)`), so N constraints cost one pass, not N. Violation errors name
  * the constraint and carry one offending row rendered through the
  * batch's own schema. At 100 TB the batch is what's small (CDC batches,
  * appended windows) — the lake itself is only scanned at ADD time.
  *
  * The sidecar is read per mutation (one ~KB open, same cost class as
  * the manifest reads the mutation already does) and published
  * atomically (tmp + rename), so writers racing a constraint change see
  * either the old or the new set, never a torn file.
  */
object LakeConstraints {

  val SidecarName = "_graft_constraints.json"

  final case class Constraint(name: String, sqlExpr: String)

  final class ConstraintViolation(msg: String)
    extends IllegalArgumentException(msg)

  private def sidecar(root: Path) = new Path(root, SidecarName)

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** Current constraints (empty when none were ever set). */
  def list(spark: SparkSession, root: String): Seq[Constraint] = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val p = sidecar(rootPath)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      node.path("constraints").elements().asScala.map { c =>
        Constraint(c.path("name").asText(), c.path("expr").asText())
      }.toSeq
    }
  }

  /** Add (or replace, by name) a constraint. Parses the expression,
    * validates EXISTING rows (refuses with a count + example on any
    * violation), then publishes the sidecar atomically. */
  def add(spark: SparkSession, root: String, name: String,
          sqlExpr: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"constraint name must be [A-Za-z0-9_-]+, got '$name'")
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    require(fs.exists(rootPath), s"no lake at $root")
    val current = graft.sources.ZLake.read(spark, root)
    // parse + resolve now: an unparsable or column-missing expression
    // must fail HERE, not inside some later ingest
    val c = try expr(sqlExpr) catch {
      case NonFatal(e) => throw new IllegalArgumentException(
        s"constraint '$name' does not parse: $sqlExpr", e)
    }
    enforce(spark, current, Seq(Constraint(name, sqlExpr)),
      s"existing rows of $root violate new constraint")
    val _ = c
    val next = list(spark, root).filterNot(_.name == name) :+
      Constraint(name, sqlExpr)
    write(fs, rootPath, next)
  }

  /** Drop a constraint by name (unknown names are an error — a typo here
    * would silently stop enforcing the real one). */
  def drop(spark: SparkSession, root: String, name: String): Unit = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val have = list(spark, root)
    require(have.exists(_.name == name),
      s"no constraint named '$name' on $root " +
        s"(have: ${have.map(_.name).mkString(", ")})")
    write(fs, rootPath, have.filterNot(_.name == name))
  }

  private def write(fs: FileSystem, root: Path,
                    cs: Seq[Constraint]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("version", 1)
    val arr = node.putArray("constraints")
    cs.foreach { c =>
      val o = arr.addObject()
      o.put("name", c.name); o.put("expr", c.sqlExpr); ()
    }
    // overwrite-rename, NOT delete-then-rename: a concurrent
    // validateBatch in a delete→rename window would see no constraints
    // and admit a violating batch, and a crash there would drop them all
    LakeDelete.publishSidecar(fs, sidecar(root), om.writeValueAsString(node))
  }

  /** Enforce the lake's constraints against `rows` (an ingest batch or
    * an update's post-image): ONE aggregate pass counts every
    * constraint's violations; the first violated constraint raises with
    * its count and one offending row. No-op when the lake has no
    * constraints. */
  def validateBatch(spark: SparkSession, root: String,
                    rows: DataFrame): Unit = {
    val cs = list(spark, root)
    if (cs.nonEmpty)
      enforce(spark, rows, cs, s"batch violates constraints of $root")
  }

  private def enforce(spark: SparkSession, rows: DataFrame,
                      cs: Seq[Constraint], what: String): Unit = {
    // rows whose expression is FALSE violate; NULL passes (ANSI CHECK)
    def violates(c: Constraint) = !coalesce(expr(c.sqlExpr), lit(true))
    val aggs = cs.map(c =>
      sum(when(violates(c), 1L).otherwise(0L)).as(c.name)) :+
      count(lit(1)).as("__graft_total")
    val counts = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
    cs.zipWithIndex.foreach { case (c, i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0L) {
        val example = rows.filter(violates(c)).limit(1).collect()
          .headOption.map(_.toString).getOrElse("<none>")
        throw new ConstraintViolation(
          s"$what: CHECK '${c.name}' (${c.sqlExpr}) fails for $bad " +
            s"row(s); example: $example")
      }
    }
  }
}
