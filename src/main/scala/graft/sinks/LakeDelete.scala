package graft.sinks

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.{coalesce, col, collect_set, count, lit, not, when}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ZLake

/** Copy-on-write DELETE over the z-lake — the lakehouse mutation path
  * (the `DELETE FROM t WHERE p` every GDPR/retention pipeline needs) at
  * the cost model a 100 TB lake requires: the predicate is evaluated
  * against the manifest's per-file envelopes FIRST, so only files that can
  * actually hold a matching row are touched at all.
  *
  * Per-file triage via the lake's own envelope algebra:
  *  - `!mayMatch(p, file)` — no row can match: the file is UNTOUCHED
  *    (not read, not rewritten; at scale this is almost all of the lake);
  *  - `mustMatch(p, file)` — EVERY row provably matches: the file is
  *    dropped whole, METADATA-ONLY (never read — the Iceberg-style
  *    metadata delete; a whole-partition retention drop costs zero tasks);
  *  - otherwise — the file is rewritten without its matching rows. The
  *    WHOLE rewrite set stages as ONE Spark job (r9 verdict #2): every
  *    boundary file reads into a single DataFrame (partition values parsed
  *    from the paths against an explicit string schema), the keep-filter
  *    runs once, and a `partitionBy` write lands per-directory outputs
  *    under the stage dir — so a retention DELETE straddling 10^4
  *    envelopes pays one scheduler round-trip, not 10^4 sequential jobs.
  *    Originals journal as drops and the consolidated outputs as adds
  *    (fresh names — no same-path rewrite, which also keeps the
  *    `(rel, len, mtime)` identity [[graft.sources.ZLakeTail]] and
  *    [[graft.sources.Snapshots]] key collision-free on journaled paths);
  *    a directory whose boundary files turn out to hold NO matching rows
  *    is suppressed entirely — its files stay byte-untouched.
  * Partition columns participate exactly: each file's `col=value` path
  * values are substituted into the predicate as literals and the result
  * constant-folds before the envelope test, so `WHERE win < '202601'`
  * triages whole directories without reading anything.
  *
  * SQL semantics: DELETE removes rows where `p` IS TRUE; rows where `p` is
  * FALSE or NULL survive (the rewrite keeps `NOT coalesce(p, false)`).
  *
  * CRASH-SAFE via a staged-files + journal protocol (the miniature of a
  * lakehouse commit log): replacements are fully written under a
  * per-transaction `_txn/<uuid>/` dir (a '_'-prefixed path every reader
  * ignores), then ONE journal file — which records its stage dir — is
  * published atomically, then the journal is applied (delete originals,
  * move replacements in — idempotent steps), manifests repaired
  * incrementally ([[ZLake.repairDirManifest]] — untouched files keep
  * their exact entries, replaced files get fresh envelopes + stats in the
  * old manifest's layout), and the journal retired. A crash
  *  - before the journal publish leaves the lake bit-identical (staging is
  *    invisible; the orphaned txn dir is age-swept by a later commit);
  *  - after the publish is healed by [[recover]] (run automatically at the
  *    start of every [[deleteFromLake]]): re-applying the journal is
  *    idempotent, so the delete completes exactly once.
  *
  * CONCURRENCY (r10): staging runs OUTSIDE the writer lock; the lock
  * guards only the commit window (recover → validate read-set → journal →
  * apply), so concurrent appends queue for milliseconds instead of
  * failing, mutations touching disjoint files both land, and a genuine
  * optimistic race restages from a fresh triage (bounded retries).
  * Isolation is write-snapshot: a mutation applies to the files it
  * triaged — rows appended concurrently survive a concurrent DELETE.
  * As with [[Sinks.compactLake]], a concurrent reader mid-apply can catch
  * a single file between its delete and its replacement's rename — the
  * same per-file swap window every in-place rewriter has without full
  * snapshot isolation; ZLake planning from the repaired manifest closes it
  * for planning-time readers.
  */
object LakeDelete {

  /** What one delete did. `rowsDeleted` is exact when every touched file
    * had a known row count (manifest- or footer-covered — always true for
    * lakes this repo writes); otherwise -1. */
  final case class DeleteReport(filesTotal: Int, filesUntouched: Int,
                                filesDroppedWhole: Int, filesRewritten: Int,
                                rowsDeleted: Long, recoveredFirst: Boolean)

  /** What one upsert did: the keyed delete's triage plus the insert side.
    * `delete.rowsDeleted` counts replaced rows; `rowsInserted` counts all
    * rows of the update batch. */
  final case class UpsertReport(delete: DeleteReport, filesAdded: Int,
                                rowsInserted: Long)

  private val JournalName = "_graft_delete_journal.json"
  private val StageDirName = "_deleting" // legacy journals only (no "stage" field)
  private val TxnDirName = "_txn"
  private val FenceName = "_graft_fence.json"
  private val LockName = "_graft_writer.lock"

  /** Stale-lock takeover age (ms). A writer that dies holding the lock is
    * broken past this; the journal protocol makes the takeover safe (a
    * published journal re-applies idempotently, an unpublished staging is
    * discarded). Test seam — production default 30 min. */
  private[graft] val staleLockMs =
    new java.util.concurrent.atomic.AtomicLong(30L * 60 * 1000)

  /** How long a writer WAITS for the lock before giving up (ms). Since
    * r10 the lock guards only the COMMIT window (recover → validate →
    * journal → apply) — staging runs outside it — so contention is
    * seconds, not the length of the rewrite job; waiting briefly turns
    * "concurrent append fails" into "concurrent append queues". Test
    * seam; 0 = fail fast (the pre-r10 behavior). */
  private[graft] val lockWaitMs =
    new java.util.concurrent.atomic.AtomicLong(10000L)

  /** Count of optimistic-commit conflicts that triggered a restage —
    * observability (and the spec's proof that a race actually ran). */
  private[graft] val conflictRetries =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: fires after a mutation finishes STAGING, before it takes
    * the commit lock — the window in which a concurrent writer may land.
    * Specs park a competing mutation here to exercise conflict
    * detection deterministically. */
  private[graft] val stagedHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** Advisory single-writer LOCK enforcing the lake's documented
    * single-writer contract: every journaled mutation (delete, upsert,
    * update, rewrite, compaction, vacuum, standalone recovery) runs under
    * an exclusive `_graft_writer.lock` taken with an atomic
    * create-if-absent. A second concurrent writer fails fast with
    * `ConcurrentModificationException` instead of corrupting the shared
    * staging dir or overwriting the other's journal. Locks older than
    * [[staleLockMs]] are broken (crashed writer) — safe because the
    * commit point is the journal, not the lock. NOTE: create-if-absent is
    * atomic on HDFS/ABFS; on raw-local and S3-like stores it is
    * check-then-act, so SAME-PROCESS writers additionally serialize on a
    * JVM monitor keyed by the lake root (two threads of one driver must
    * never both enter the commit window — observed on local FS as a
    * journal read racing a journal replace). Cross-process on such
    * stores the file lock remains advisory, exactly like Delta's S3
    * single-writer caveat. */
  private val processLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Roots whose writer lock THIS thread already holds — the lock is
    * REENTRANT per thread (group operations hold several tables' locks
    * while the per-table machinery re-enters its own root's lock; the
    * file create-if-absent would self-deadlock without this). */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private[graft] def withWriterLock[T](fs: FileSystem, root: Path)
                                      (body: => T): T = {
    val key = fs.makeQualified(root).toUri.toString
    if (heldLocks.get().contains(key)) body // reentrant: already ours
    else {
      val monitor = processLocks.computeIfAbsent(key, _ => new Object)
      monitor.synchronized {
        heldLocks.set(heldLocks.get() + key)
        try withWriterFileLock(fs, root)(body)
        finally heldLocks.set(heldLocks.get() - key)
      }
    }
  }

  private def withWriterFileLock[T](fs: FileSystem, root: Path)
                                   (body: => T): T = {
    val lock = new Path(root, LockName)
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          (s"""{"pid":${ProcessHandle.current().pid()},""" +
            s""""at":${System.currentTimeMillis()}}""")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    val deadline = System.currentTimeMillis() + lockWaitMs.get()
    var acquired = tryAcquire()
    while (!acquired) {
      val stale =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime > staleLockMs.get()
        catch { case _: java.io.FileNotFoundException => true }
      if (stale) {
        try { fs.delete(lock, false); () } catch { case NonFatal(_) => () }
      }
      acquired = tryAcquire()
      if (!acquired) {
        if (System.currentTimeMillis() >= deadline)
          throw new java.util.ConcurrentModificationException(
            s"another writer holds $lock — gave up after " +
              s"${lockWaitMs.get()} ms (commits are short; a longer hold " +
              s"is a crashed writer, broken after ${staleLockMs.get()} ms)")
        Thread.sleep(50)
      }
    }
    try body
    finally { try fs.delete(lock, false) catch { case NonFatal(_) => () }; () }
  }

  // ---- optimistic concurrency (r10) ---------------------------------------
  // Mutations STAGE outside the lock in a per-transaction dir
  // (`_txn/<uuid>/`, invisible to readers like every '_'-prefixed path),
  // then take the lock only for the commit window: recover any crashed
  // predecessor, VALIDATE the read-set (every file the mutation intends to
  // drop/rewrite still has the identity triage saw), publish the journal
  // (which records its own stage dir), apply, sweep stale txn dirs. A
  // conflict releases the lock and restages from a fresh triage (bounded
  // retries). Appends have an empty read-set and never conflict — ingest
  // no longer queues behind a long copy-on-write rewrite's staging; two
  // mutations touching DISJOINT files both commit. Isolation is
  // write-snapshot (Delta's WriteSerializable): a mutation applies to the
  // files it triaged; rows appended concurrently survive a concurrent
  // DELETE and are not re-keyed by a concurrent MERGE.

  /** Fail-loud v1 guard: a BUCKETED lake
    * ([[graft.sources.ZLake.BucketsName]] sidecar present) is append-only.
    * Rewriting mutations stage replacement files under fresh names the
    * bucketed scan cannot parse a bucket id from — and worse, a rewrite
    * that pooled rows across source files would silently break the
    * co-location contract every exchange-free join depends on. So every
    * file-rewriting path refuses with the trade-off spelled out, exactly
    * like [[DeletionVectors.requireAbsent]]'s guard matrix. Appends are
    * fine: [[appendLake]] routes rows through the declared hash. */
  private[graft] def requireNotBucketed(fs: FileSystem, root: Path,
                                        op: String): Unit =
    require(ZLake.bucketInfo(fs, root).isEmpty,
      s"$op is not supported on a bucketed lake " +
        s"(${ZLake.BucketsName} present at $root): bucketed lakes are " +
        "append-only — rewrite the lake with Sinks.bucketedLakeWrite, or " +
        "delete the sidecar to trade co-located joins for mutability")

  /** Fresh per-transaction staging dir under `_txn/`. */
  private def newTxnDir(fs: FileSystem, root: Path): (Path, String) = {
    val rel = s"$TxnDirName/${java.util.UUID.randomUUID()}"
    val p = new Path(root, rel)
    fs.mkdirs(p)
    (p, rel)
  }

  /** Read-set validation: files in `sts` that no longer exist with the
    * `(len, mtime)` identity triage captured. Journaled paths never reuse
    * a relative name, so identity change ⇒ a concurrent writer moved it. */
  private[graft] def changedIdentities(fs: FileSystem,
                                       sts: Seq[FileStatus]): Seq[String] =
    sts.collect {
      case st if ZLake.unchangedStatus(fs, st.getPath, st.getLen,
        st.getModificationTime).isEmpty => st.getPath.toString
    }

  /** Rename every data file of a staged write under `out` to
    * `<kind>-<runId>-<i>.parquet` (numbered in file-name order) inside
    * its own partition directory under `stageRoot`; returns the staged
    * relative paths. */
  private[graft] def stageRenamed(fs: FileSystem, out: Path, stageRoot: Path,
                                  kind: String): Seq[String] = {
    val runId = java.util.UUID.randomUUID()
    ZLake.listDataFiles(fs, out).map(_._1.getPath).sortBy(_.getName)
      .zipWithIndex.map { case (p, i) =>
        val relp = stagedRel(out, p, s"$kind-$runId-$i.parquet")
        val dst = new Path(stageRoot, relp)
        fs.mkdirs(dst.getParent)
        require(fs.rename(p, dst), s"could not stage $dst")
        relp
      }
  }

  /** `name` in the partition directory `p` sits in, relative to `out`
    * (taken from the path: listed partition keys are lowercased). */
  private def stagedRel(out: Path, p: Path, name: String): String = {
    val dirRel = ZLake.relPath(out, p.getParent)
    if (dirRel.isEmpty) name else s"$dirRel/$name"
  }

  /** Garbage-collect txn dirs abandoned by crashed PRE-commit writers
    * (post-commit dirs are consumed by [[applyJournal]]). Age-gated by
    * [[staleLockMs]] so live writers' staging is never touched. Runs
    * under the commit lock. Also retires a legacy `_deleting/` left by a
    * pre-r10 writer's pre-commit crash once no journal can reference it. */
  private def sweepStaleTxns(fs: FileSystem, root: Path): Unit =
    try {
      val txn = new Path(root, TxnDirName)
      if (fs.exists(txn)) {
        val cutoff = System.currentTimeMillis() - staleLockMs.get()
        // staleness = the NEWEST mtime anywhere under the txn dir, not the
        // dir's own: a long staging job writes under `.out` without ever
        // refreshing the parent's mtime, and sweeping it mid-stage would
        // force restages (and can race its post-write walk into a partial
        // stage). Walk cost is bounded — a txn dir holds one mutation's
        // staged files
        def newest(d: Path): Long =
          try {
            val kids = fs.listStatus(d)
            (fs.getFileStatus(d).getModificationTime +: kids.toSeq.map(st =>
              if (st.isDirectory) newest(st.getPath)
              else st.getModificationTime)).max
          } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        fs.listStatus(txn).foreach { st =>
          if (st.getModificationTime < cutoff &&
            (!st.isDirectory || newest(st.getPath) < cutoff)) {
            try { fs.delete(st.getPath, true); () }
            catch { case NonFatal(_) => () }
          }
        }
        // do NOT delete the empty `_txn` container: staging runs OUTSIDE
        // the commit lock, so "lists empty" races a concurrent appender's
        // fresh `mkdirs(_txn/<uuid>)` — the recursive container delete
        // would rip its in-flight Spark write out from under it (observed
        // as TASK_WRITE_FAILED: Mkdirs failed under `.add/_temporary`).
        // An empty `_`-prefixed dir costs nothing and data listings skip
        // it.
      }
      val legacy = new Path(root, StageDirName)
      if (fs.exists(legacy) && !fs.exists(new Path(root, JournalName))) {
        fs.delete(legacy, true); ()
      }
    } catch { case NonFatal(_) => () }

  /** A staging job that raced a concurrent writer reads files that
    * vanish mid-scan — surfaced as a FileNotFoundException somewhere in
    * the failure's cause chain. Those are conflicts (restage), not
    * errors. */
  private[sinks] def isConcurrentFileLoss(e: Throwable): Boolean = {
    var t: Throwable = e
    var seen = 0
    while (t != null && seen < 16) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      // a retire/swap renames data file and checksum sidecar non-
      // atomically on ChecksumFileSystem (local FS): a staging read
      // caught mid-swap surfaces as a checksum mismatch — the same
      // event HDFS reports as FileNotFound
      if (t.isInstanceOf[org.apache.hadoop.fs.ChecksumException]) return true
      // path checked at ANALYSIS time (spark.read over explicit files):
      // a racer's commit between listing and analysis surfaces as
      // PATH_NOT_FOUND with no FileNotFoundException in the chain
      if (t.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
        t.getMessage != null && t.getMessage.contains("PATH_NOT_FOUND"))
        return true
      t = t.getCause
      seen += 1
    }
    false
  }

  /** Run `body` (triage + stage + commit, returning Left(conflicts) on an
    * optimistic race) with one reusable txn dir and up to `attempts`
    * restages. The dir is consumed by the commit's [[applyJournal]];
    * leftovers from failed attempts inside it die with it. On terminal
    * failure the dir is cleaned UNLESS a published journal may reference
    * it (then [[recover]] owns it). */
  private[graft] def withConflictRetry[T](what: String, fs: FileSystem,
                                   rootPath: Path, attempts: Int = 3)
                                  (body: (Path, String)
                                    => Either[Seq[String], T]): T = {
    val (dir, rel) = newTxnDir(fs, rootPath)
    def cleanup(): Unit =
      try {
        if (!fs.exists(new Path(rootPath, JournalName)) && fs.exists(dir)) {
          fs.delete(dir, true); ()
        }
      } catch { case NonFatal(_) => () }
    var i = 0
    var last: Seq[String] = Nil
    try {
      while (i < attempts) {
        val res =
          try body(dir, rel)
          catch {
            // a racer's commit can invalidate THIS attempt anywhere a
            // live file is touched (triage listing, count pass, staging
            // scan) — every such loss is a conflict, not an error
            case NonFatal(e) if isConcurrentFileLoss(e) =>
              Left(Seq(e.getMessage))
          }
        res match {
          case Right(t) =>
            cleanup() // no-op commits leave the dir behind; drop it
            return t
          case Left(c) =>
            conflictRetries.incrementAndGet()
            last = c
            i += 1
        }
      }
    } catch { case NonFatal(e) => cleanup(); throw e }
    cleanup()
    throw new java.util.ConcurrentModificationException(
      s"$what: optimistic commit lost $attempts races to concurrent " +
        s"writers (latest conflicting files: ${last.take(3).mkString(", ")})")
  }

  /** The SHORT critical section every mutation ends with: under the
    * writer lock, heal any crashed predecessor, validate the caller's
    * read-set, then publish + apply the journal. Left = the read-set
    * moved (caller restages); the lock is held for file-ops only — never
    * for a Spark job except [[applyJournal]]'s manifest repair. */
  private[graft] def commitStaged(spark: SparkSession, fs: FileSystem,
                           rootPath: Path, stageRel: String,
                           drops: Seq[String], adds: Seq[String],
                           fence: Option[String],
                           validate: () => Seq[String])
      : Either[Seq[String], Unit] =
    withWriterLock(fs, rootPath) {
      recoverUnlocked(spark, rootPath.toString)
      val conflicts = validate()
      if (conflicts.nonEmpty) Left(conflicts)
      else {
        writeJournal(fs, rootPath, drops, Nil, adds, fence, stageRel)
        journalPublishedHook.get()()
        applyJournal(spark, fs, rootPath)
        sweepStaleTxns(fs, rootPath)
        Right(())
      }
    }

  /** The lake's commit FENCE: an opaque caller string (e.g. a streaming
    * batch id) published atomically WITH a merge — it rides the journal,
    * and [[applyJournal]] materializes it before retiring, so "the merge
    * landed" and "the fence shows it" are one crash-safe step. The
    * exactly-once handshake for non-idempotent maintenance
    * ([[MaterializedAgg]]): a replayed batch reads the fence first and
    * skips itself if its id already committed. */
  def readFence(spark: SparkSession, root: String): Option[String] = {
    val rootPath = new Path(root)
    readSidecar(rootPath.getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(rootPath, FenceName))
  }

  /** Publish a fence OUTSIDE a journal commit — for writers whose data
    * step is itself atomic-or-redoable (e.g. [[MaterializedAgg]]'s
    * bootstrap, where fence-absence marks the whole root redo-able). */
  private[sinks] def publishFence(spark: SparkSession, root: String,
                                  fence: String): Unit = {
    val rootPath = new Path(root)
    writeFence(rootPath.getFileSystem(spark.sessionState.newHadoopConf()),
      rootPath, fence)
  }

  /** ATOMIC fence swap (r9 advice): an overwrite-rename via FileContext,
    * so there is no delete-then-rename window in which a crash leaves a
    * marker-bearing root with NO fence — a state the next
    * [[MaterializedAgg]] merge would misread as a half bootstrap and wipe.
    * Filesystems without a FileContext binding (AbstractFileSystem) fall
    * back to delete+rename; every fence on such a path that matters also
    * rides the journal, which re-lands it on [[recover]]. */
  private def writeFence(fs: FileSystem, root: Path, fence: String): Unit =
    publishSidecar(fs, new Path(root, FenceName), fence)

  /** Atomic overwrite-publish of a small sidecar: `text` is written as
    * UTF-8 to `.<name>.tmp` beside `dst`, then swapped in by a
    * FileContext OVERWRITE rename, so no reader ever observes `dst`
    * absent and a crash leaves either the old or the new bytes — the
    * contract every '_'-prefixed sidecar (fences, constraints, index
    * pointers and stats, pins) needs. Filesystems without a FileContext
    * binding fall back to delete+rename (the small non-atomic window is
    * the platform's limitation, same caveat as the writer lock on S3). */
  private[graft] def publishSidecar(fs: FileSystem, dst: Path,
                                    text: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val swapped =
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(dst.toUri, fs.getConf)
          .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!swapped) {
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(tmp, dst), s"could not publish $dst")
    }
  }

  /** A sidecar's UTF-8 text, None when it does not exist. */
  private[graft] def readSidecar(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Delete every row of the lake at `root` satisfying `predicate`
    * (unresolved column refs — `col("a") > 5 && col("win") === "x"`).
    * Returns the per-class file counts and rows removed. Idempotent: a
    * second call with the same predicate touches nothing (the envelopes of
    * the rewritten files no longer intersect it, except boundary-loose
    * files which rewrite to themselves). */
  def deleteFromLake(spark: SparkSession, root: String,
                     predicate: Column): DeleteReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    DeletionVectors.requireAbsent(fs, rootPath, "DELETE")
    requireNotBucketed(fs, rootPath, "DELETE")
    val recovered = recover(spark, root) // heal BEFORE triage reads the lake
    withConflictRetry("DELETE", fs, rootPath) { (txnDir, txnRel) =>
      deleteCore(spark, root, predicate, Nil, recovered, None, txnDir, txnRel)
    }
  }

  final case class RewriteReport(filesBefore: Int, filesAfter: Int,
                                 rows: Long)

  /** What one update did. `rowsUpdated` is exact (counted in the triage
    * pass). Suppressed dirs — envelope-positive but zero matching rows —
    * count as untouched. */
  final case class UpdateReport(filesTotal: Int, filesUntouched: Int,
                                filesRewritten: Int, rowsUpdated: Long)

  /** Copy-on-write UPDATE: every row satisfying `predicate` gets each
    * assignment applied (values may reference any lake column, including
    * the updated one — `cents -> col("cents") + 11`); rows where the
    * predicate is FALSE or NULL are byte-unchanged. The SQL spelling is
    * `UPDATE t SET c = e WHERE p` via [[graft.plans.GraftDml]].
    *
    * Scale shape mirrors [[deleteFromLake]]'s one-job staging, plus an
    * exact-match pre-pass the delete does not need (an update must know
    * WHICH envelope-positive directories actually hold matching rows —
    * rewriting a loose-envelope file with zero matches would churn bytes
    * and break idempotence):
    *  1. manifest triage — files whose envelopes cannot match are never
    *     read (almost all of a 100 TB lake for a selective predicate);
    *  2. ONE column-pruned count job over the boundary set yields exact
    *     per-directory match counts → zero-match dirs are suppressed and
    *     `rowsUpdated` is exact;
    *  3. ONE staged partitionBy write rewrites the surviving dirs with
    *     `CASE WHEN p THEN <assignment> ELSE <col> END` per assigned
    *     column (store-assignment cast to the column's type);
    *  4. the same journal commit as the delete (drops + fresh-name adds,
    *     crash-healed by [[recover]], manifests repaired batched).
    *
    * Partition columns cannot be assigned (that would MOVE rows across
    * directories — a delete+insert, which `upsertLake` already spells);
    * unknown columns and non-deterministic predicates/values throw. */
  def updateLake(spark: SparkSession, root: String,
                 assignments: Seq[(String, Column)],
                 predicate: Column): UpdateReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    DeletionVectors.requireAbsent(fs, rootPath, "UPDATE")
    requireNotBucketed(fs, rootPath, "UPDATE")
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    recover(spark, root)
    withConflictRetry("UPDATE", fs, rootPath) { (txnDir, txnRel) =>
      updateAttempt(spark, root, assignments, predicate, txnDir, txnRel)
    }
  }

  /** One optimistic UPDATE attempt (see [[deleteCore]] for the shape). */
  private def updateAttempt(spark: SparkSession, root: String,
                            assignments: Seq[(String, Column)],
                            predicate: Column,
                            txnDir: Path, txnRel: String)
      : Either[Seq[String], UpdateReport] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val stageRoot = txnDir

    val df = ZLake.read(spark, root)
    val idx = ZLake.index(spark, root)
    val partCols = idx.partitionCols
    val fields = df.schema.fields
    assignments.foreach { case (n, _) =>
      require(fields.exists(_.name.equalsIgnoreCase(n)),
        s"UPDATE target column '$n' does not exist in the lake")
      require(!partCols.exists(_.equalsIgnoreCase(n)),
        s"cannot UPDATE partition column '$n' — rows would move " +
          "directories; use upsertLake/MERGE for key-moving changes")
    }
    val analyzed = df.filter(predicate).queryExecution.analyzed
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.getOrElse(
      throw new IllegalArgumentException(
        s"predicate did not analyze to a filter: $predicate"))
    require(cond.deterministic, "update predicate must be deterministic")

    def forFile(fe: ZLake.FileEnvelope): Expression = {
      val pmap = fe.partitionValues
        .map { case (k, v) => k.toLowerCase -> v }.toMap
      val sub = cond.transform {
        case a: AttributeReference if pmap.contains(a.name.toLowerCase) =>
          Literal(UTF8String.fromString(pmap(a.name.toLowerCase)), StringType)
      }
      sub.transformUp {
        case e if e.foldable && e.deterministic =>
          try Literal(e.eval(null), e.dataType)
          catch { case NonFatal(_) => e }
      }
    }
    val (rewrites, untouched) =
      idx.fes.partition(fe => ZLake.mayMatch(forFile(fe), fe))
    if (rewrites.isEmpty)
      return Right(UpdateReport(idx.fes.size, idx.fes.size, 0, 0L))

    def rel(p: Path): String = ZLake.relPath(rootPath, p)
    def dirRelOf(fe: ZLake.FileEnvelope): String =
      rel(fe.status.getPath.getParent)

    // pass 1: exact per-directory match counts (column-pruned scan)
    val hit = coalesce(predicate, lit(false))
    val boundary = spark.read.schema(df.schema).option("basePath", root)
      .parquet(rewrites.map(_.status.getPath.toString): _*)
    val matchByDir: Map[String, Long] =
      try {
        if (partCols.isEmpty)
          Map("" -> boundary.filter(hit).count())
        else boundary.filter(hit)
          .groupBy(partCols.map(col): _*).count().collect().map { r =>
            val dir = partCols.indices
              .map(i => s"${partCols(i)}=${r.get(i)}").mkString("/")
            dir -> r.getLong(partCols.size)
          }.toMap
      } catch {
        case NonFatal(e) if isConcurrentFileLoss(e) =>
          return Left(Seq(e.getMessage))
      }
    val rowsUpdated = matchByDir.values.sum
    val rewritesByDir = rewrites.groupBy(dirRelOf)
    val liveDirs = rewritesByDir.keySet
      .filter(d => matchByDir.getOrElse(d, 0L) > 0L).toSeq.sorted
    val live = liveDirs.flatMap(rewritesByDir(_))
    if (live.isEmpty)
      return Right(UpdateReport(idx.fes.size, idx.fes.size, 0, 0L))

    // pass 2: one staged write of the surviving dirs with assignments
    // applied under the predicate (store-assignment cast to column type)
    val byLower = assignments
      .map { case (n, c) => n.toLowerCase -> c }.toMap
    val outCols = fields.toSeq.map { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(v) =>
          when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    // post-image enforcement: the rows this UPDATE produces must satisfy
    // the lake's CHECK constraints (SQL `UPDATE SET` rides this path too)
    try LakeConstraints.validateBatch(spark, root,
      boundary.filter(hit).select(outCols: _*))
    catch {
      case NonFatal(e) if isConcurrentFileLoss(e) =>
        return Left(Seq(e.getMessage))
    }

    val outDir = new Path(stageRoot, ".out")
    try {
      val updatedDf = spark.read.schema(df.schema).option("basePath", root)
        .parquet(live.map(_.status.getPath.toString): _*)
        .select(outCols: _*)
      val w = updatedDf.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(outDir.toString)
    } catch {
      case NonFatal(e) if isConcurrentFileLoss(e) =>
        return Left(Seq(e.getMessage))
    }
    val adds = stageRenamed(fs, outDir, stageRoot, "update")
    stagedHook.get()() // race injection: staged, commit lock not yet taken
    commitStaged(spark, fs, rootPath, txnRel,
      live.map(fe => rel(fe.status.getPath)), adds, None,
      () => changedIdentities(fs, live.map(_.status))) match {
      case Left(conflicts) => return Left(conflicts)
      case Right(()) => ()
    }
    Right(UpdateReport(idx.fes.size,
      untouched.size + (rewrites.size - live.size), live.size, rowsUpdated))
  }

  /** Journal-atomic WHOLE-LAKE REWRITE — the compaction a FLAT
    * (partitionless) lake needs after incremental growth: a long-lived
    * [[MaterializedAgg]] view gains a handful of upsert files per merge,
    * and after 10^4 merges its read plans 10^4 small files. This rewrites
    * the entire current file set as one fresh z-ordered layout through
    * the SAME staged-files + journal commit the delete/upsert path uses:
    * replacement files land invisibly under the stage dir, the journal
    * (drop = every current file, add = the compact set) publishes
    * atomically, and a crash at ANY point either leaves the old layout
    * intact or is healed by [[recover]] into the new one. The commit
    * fence and any ownership markers are separate root files the journal
    * never touches — exactly-once maintenance state survives compaction.
    * Partitioned lakes have [[Sinks.compactLake]] (per-window swaps with
    * closed-window cutoffs); this operator refuses them. */
  def rewriteLake(spark: SparkSession, root: String,
                  zorderBy: (String, String), numFiles: Int, bits: Int = 8,
                  bloomCols: Seq[String] = Nil): RewriteReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    DeletionVectors.requireAbsent(fs, rootPath, "rewriteLake")
    requireNotBucketed(fs, rootPath, "rewriteLake")
    recover(spark, root)
    withConflictRetry("REWRITE", fs, rootPath) { (txnDir, txnRel) =>
      rewriteAttempt(spark, root, zorderBy, numFiles, bits, bloomCols,
        txnDir, txnRel)
    }
  }

  /** One optimistic whole-lake-rewrite attempt. Unlike the delete/update
    * read-set check, validation here compares the FULL file set: a file
    * appended after triage would otherwise survive next to its compacted
    * copy and double its rows. */
  private def rewriteAttempt(spark: SparkSession, root: String,
                             zorderBy: (String, String), numFiles: Int,
                             bits: Int, bloomCols: Seq[String],
                             txnDir: Path, txnRel: String)
      : Either[Seq[String], RewriteReport] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val idx = ZLake.index(spark, root)
    if (idx.fes.isEmpty) return Right(RewriteReport(0, 0, 0L))
    require(idx.fes.forall(_.partitionValues.isEmpty),
      s"rewriteLake is for flat lakes; $root is partitioned — use " +
        "compactLake")
    val before = idx.fes.map(fe =>
      (fe.status.getPath.getName, fe.status.getLen,
        fe.status.getModificationTime)).toSet
    val rows = ZLake.read(spark, root)
    val tmp = new Path(txnDir, ".compact")
    try Sinks.zorderedWrite(rows, zorderBy._1, zorderBy._2, tmp.toString,
      numFiles, bits, bloomCols = bloomCols)
    catch {
      case NonFatal(e) if isConcurrentFileLoss(e) =>
        return Left(Seq(e.getMessage))
    }
    val adds = stageRenamed(fs, tmp, txnDir, "compact")
    fs.delete(tmp, true)

    val dropRels = idx.fes.map(fe => ZLake.relPath(rootPath, fe.status.getPath))
    stagedHook.get()()
    commitStaged(spark, fs, rootPath, txnRel, dropRels, adds, None,
      () => {
        val now = ZLake.dataFileIdentities(fs, rootPath)
          .map { case (r, l, m) => (new Path(r).getName, l, m) }.toSet
        if (now == before) Nil
        else ((now diff before) ++ (before diff now)).map(_._1).take(5).toSeq
      }).map { _ =>
      val total = idx.fes.map(_.rows).sum
      RewriteReport(dropRels.size, adds.size, total)
    }
  }

  /** Keyed UPSERT (the CDC / dimension-maintenance merge): every existing
    * row whose `keyCol` appears in `updates` is removed, and ALL rows of
    * `updates` are inserted — one ATOMIC commit (the delete's journal
    * carries an `add` lane, so a crash either leaves the lake untouched or
    * applies the full merge on [[recover]]).
    *
    * Scale shape: the batch's distinct keys are collected (bounded by
    * `maxKeys` — this operator targets the dimension-update / CDC-batch
    * case, not fact-to-fact merges) and become an IN predicate, so file
    * triage runs on the manifest: per-file key ENVELOPES and — where the
    * lake was written with `bloomCols` on the key — per-file BLOOMS skip
    * every file that provably holds none of the keys. A scattered 1k-key
    * update against a 10^5-file lake rewrites only the bloom-positive
    * files. Inserts land as new files in their `win=` partition
    * directories (`updates` must carry the lake's partition columns, as
    * strings matching the directory values); a brand-new partition
    * directory is created with a plain envelope manifest.
    *
    * `updates` rows must have non-null keys; duplicate keys within one
    * batch insert as-is (the caller owns batch-level dedup). */
  def upsertLake(spark: SparkSession, root: String, updates: DataFrame,
                 keyCol: String, maxKeys: Int = 100000,
                 fence: Option[String] = None): UpsertReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    DeletionVectors.requireAbsent(fs, rootPath, "MERGE")
    requireNotBucketed(fs, rootPath, "MERGE")
    val recovered = recover(spark, root)

    val keyRows = updates.select(col(keyCol)).distinct().limit(maxKeys + 1)
      .collect()
    require(keyRows.length <= maxKeys,
      s"upsert batch has more than $maxKeys distinct keys — this operator " +
        "is for dimension/CDC batches; merge bigger sets in batches")
    val keys = keyRows.map(_.get(0))
    require(!keys.contains(null), "upsert keys must be non-null")
    require(keys.nonEmpty, "empty upsert batch")

    // ---- stage the insert files (before the journal: invisible) ---------
    // ONE job for the whole batch (r9 verdict #2): partition columns cast
    // to string (the lake's directory rendering), the batch repartitioned
    // so each touched partition lands as one file, and a partitionBy write
    // mirrors the lake layout under a staging subdir — the per-partition
    // coalesce(1) job loop this replaces paid one scheduler round-trip per
    // touched partition.
    val partCols = {
      val fromFiles = ZLake.index(spark, root).partitionCols
      // an emptied lake has no files to infer layout from — the partition
      // dirs (kept with their manifests) still name it
      if (fromFiles.nonEmpty) fromFiles
      else ZLake.dirPartitionCols(spark, root)
    }
    val missing = partCols.filterNot(c =>
      updates.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"updates must carry the lake's partition column(s) $missing")
    LakeConstraints.validateBatch(spark, root, updates)

    // inserts stage ONCE (outside the lock, reused across conflict
    // retries — they reference no current lake file); only the keyed
    // delete re-triages when the commit loses an optimistic race
    withConflictRetry("MERGE", fs, rootPath) { (txnDir, txnRel) =>
      val stagedRef = stagedInsertsRef(conf, fs, txnDir, updates, partCols)
      val (adds, inserted) = stagedRef
      deleteCore(spark, root, col(keyCol).isin(keys.toSeq: _*),
        adds, recovered, fence, txnDir, txnRel)
        .map(del => UpsertReport(del, adds.size, inserted))
    }
  }

  /** One `WHEN MATCHED` clause of a conditioned merge: `assignments =
    * Some(col -> value, ...)` is `UPDATE SET` (a SUBSET of columns;
    * values may reference both sides), `None` is `DELETE`. Conditions and
    * assignment values reference the target as `t.<col>` and the source
    * as `s.<col>` (plain names where unambiguous) — the aliases
    * [[LakeDelete.mergeLake]] binds the joined frame under. A NULL
    * condition does not match (ANSI). */
  final case class MergeMatched(condition: Option[Column],
                                assignments: Option[Seq[(String, Column)]])

  final case class MergeReport(rowsUpdated: Long, rowsDeleted: Long,
                               rowsInserted: Long, filesAdded: Int,
                               delete: DeleteReport)

  /** CONDITIONED MERGE — the general CDC spelling [[upsertLake]]'s
    * keyed-replace shape cannot express:
    * {{{
    * MERGE INTO t USING s ON t.k = s.k
    *   WHEN MATCHED AND <c1> THEN UPDATE SET colA = <expr>, ...
    *   WHEN MATCHED AND <c2> THEN DELETE
    *   WHEN NOT MATCHED [AND <c3>] THEN INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND <c4>] THEN UPDATE SET ... | DELETE
    * }}}
    * Per matched (target row, source row) pair the FIRST clause whose
    * condition holds applies (Delta semantics); matched rows firing no
    * clause stay byte-untouched — they are excluded from the keyed
    * delete, not rewritten back. Unmatched source rows insert
    * name-for-name when `notMatchedInsert` is set (its condition may
    * reference only the source). `notMatchedBySource` clauses fire on
    * TARGET rows whose key is absent from the batch (NULL-keyed target
    * rows included — they can never equi-match); their conditions and
    * assignment values may reference only the target (an `s.` reference
    * fails resolution — there is no source row).
    *
    * Scale shape: identical to [[upsertLake]] for the matched/insert
    * lanes — the source's distinct keys (≤ `maxKeys`, the CDC-batch
    * bound) gate an envelope/bloom-triaged keyed delete, post-images
    * stage as new files, one journal commits every lane atomically. The
    * post-image join reads ONLY the key-pruned slice of the lake.
    * NOT-MATCHED-BY-SOURCE is semantically a whole-table scan (any row
    * the batch does NOT name may fire), so its lane prunes by the clause
    * CONDITIONS instead: the count/stage jobs push them into the parquet
    * scan, and the rewrite triage sees them in the delete predicate —
    * the SCD2 spelling `AND t.is_current` touches only current-row
    * files. Unlike upsertLake, post-images depend on TARGET state, so a
    * lost optimistic race recomputes them from a fresh read before
    * restaging (staged bytes from the losing attempt die with the txn
    * dir).
    *
    * The source must have UNIQUE keys per batch — a key matching
    * multiple source rows would apply an arbitrary one (Delta raises
    * here too; fail-loud beats nondeterminism). */
  def mergeLake(spark: SparkSession, root: String, source: DataFrame,
                keyCol: String, matched: Seq[MergeMatched],
                notMatchedInsert: Option[Option[Column]] = None,
                maxKeys: Int = 100000,
                fence: Option[String] = None,
                notMatchedBySource: Seq[MergeMatched] = Nil): MergeReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    require(matched.nonEmpty || notMatchedInsert.nonEmpty ||
      notMatchedBySource.nonEmpty,
      "merge needs at least one WHEN clause")
    DeletionVectors.requireAbsent(fs, rootPath, "MERGE")
    requireNotBucketed(fs, rootPath, "MERGE")
    val recovered = recover(spark, root)

    // ONE pass over the CDC batch serves both guards: the per-key counts
    // give the distinct keys (key-cap check) AND the duplicate check —
    // the old shape ran a distinct-collect plus a second groupBy job for
    // the dup probe. The limit only truncates past the cap, where the
    // key-cap require below throws before the dup check matters.
    val keyRows = source.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .limit(maxKeys + 1).collect()
    require(keyRows.length <= maxKeys,
      s"merge batch has more than $maxKeys distinct keys — this operator " +
        "is for dimension/CDC batches; merge bigger sets in batches")
    val keys = keyRows.map(_.get(0))
    require(!keys.contains(null), "merge keys must be non-null")
    require(keys.nonEmpty, "empty merge batch")
    val dup = keyRows.find(_.getLong(1) > 1)
    require(dup.isEmpty,
      s"merge source has duplicate key(s) (example: ${dup
        .map(_.get(0))}) — a key matching several source rows would " +
        "apply an arbitrary one; dedup the batch first")

    val partCols = {
      val fromFiles = ZLake.index(spark, root).partitionCols
      if (fromFiles.nonEmpty) fromFiles
      else ZLake.dirPartitionCols(spark, root)
    }

    withConflictRetry("MERGE", fs, rootPath) { (txnDir, txnRel) =>
      // post-images from a FRESH key-pruned read each attempt: they
      // depend on target state, so a lost race must not reuse them
      val tgt = ZLake.read(spark, root)
        .filter(col(keyCol).isin(keys.toSeq: _*))
      val tCols = tgt.columns.toSeq
      val updateIdx = matched.zipWithIndex.collect {
        case (MergeMatched(_, Some(_)), i) => i
      }
      matched.foreach {
        case MergeMatched(_, Some(assigns)) =>
          val bad = assigns.map(_._1).filterNot(a =>
            tCols.exists(_.equalsIgnoreCase(a)))
          require(bad.isEmpty, s"UPDATE SET targets unknown column(s) $bad")
        case _ => ()
      }
      notMatchedInsert.foreach { _ =>
        val miss = tCols.filterNot(c =>
          source.columns.exists(_.equalsIgnoreCase(c)))
        require(miss.isEmpty,
          s"INSERT * needs the source to carry every target column; " +
            s"missing: $miss")
      }
      // the source is CDC-sized (≤ maxKeys distinct keys, dup-checked):
      // broadcast it so the post-image join never shuffles the key-pruned
      // target slice
      val joined = tgt.alias("t")
        .join(org.apache.spark.sql.functions.broadcast(source.alias("s")),
          col(s"t.$keyCol") === col(s"s.$keyCol"), "inner")
      // first-match clause index; NULL conditions do not match (ANSI)
      val act = matched.zipWithIndex.foldRight(lit(-1)) {
        case ((cl, i), els) =>
          when(cl.condition.map(c => coalesce(c, lit(false)))
            .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
      // ONE projection resolves every t./s. reference while the aliases
      // are still in scope (a checkpointed frame flattens them away):
      // per target column, the post-image under whichever update clause
      // fired, else the original value; plus the ORIGINAL target key
      // (an assignment may rewrite the merge key — the delete must use
      // the pre-image key)
      val img = tCols.map { tc =>
        updateIdx.foldRight(col(s"t.$tc")) { (i, els) =>
          val assigns = matched(i).assignments.get
          assigns.find(_._1.equalsIgnoreCase(tc))
            .map(v => when(col("__act") === i, v._2).otherwise(els))
            .getOrElse(els)
        }.as(tc)
      }
      // bounded materialization (matched rows only): serves the counts,
      // the affected-key collect, and the update lane in one job
      val flat = joined.withColumn("__act", act)
        .select(Seq(col("__act"), col(s"t.$keyCol").as("__tkey")) ++
          img: _*)
        .localCheckpoint(true)
      // ONE job over the checkpointed matches serves both the per-clause
      // counts and the affected keys (collect_set is bounded by the
      // merge's own maxKeys cap) — the old shape ran a count job plus a
      // separate distinct-collect job
      val actRows = flat.groupBy(col("__act"))
        .agg(count(lit(1)).as("n"), collect_set(col("__tkey")).as("ks"))
        .collect()
      val actCounts: Map[Int, Long] =
        actRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rowsUpdated = updateIdx.map(actCounts.getOrElse(_, 0L)).sum
      val rowsDeleted = matched.zipWithIndex.collect {
        case (MergeMatched(_, None), i) => actCounts.getOrElse(i, 0L)
      }.sum
      // only rows a clause actually fired on are deleted; untouched
      // matches keep their bytes
      val affectedKeys: Array[Any] = actRows.filter(_.getInt(0) >= 0)
        .flatMap(_.getSeq[Any](2)).distinct

      val updateLane =
        if (updateIdx.isEmpty) None
        else Some(flat.filter(col("__act").isin(updateIdx: _*))
          .select(tCols.map(col): _*))
      val insertLane = notMatchedInsert.map { condOpt =>
        // anti side: keep the small source as the streamed side and
        // broadcast the key-pruned target's keys
        val anti = source.alias("s").join(
          org.apache.spark.sql.functions.broadcast(
            tgt.select(col(keyCol)).alias("t")),
          col(s"s.$keyCol") === col(s"t.$keyCol"), "left_anti")
        condOpt.map(c => anti.filter(coalesce(c, lit(false))))
          .getOrElse(anti)
          .select(tCols.map(tc => col(tc)): _*)
      }
      val newRows = (updateLane.toSeq ++ insertLane.toSeq)
        .reduceOption(_.unionByName(_))

      if (affectedKeys.isEmpty && newRows.isEmpty)
        Right(MergeReport(0L, 0L, 0L, 0,
          DeleteReport(0, 0, 0, 0, 0L, recovered)))
      else {
        newRows.foreach(LakeConstraints.validateBatch(spark, root, _))
        val (adds, staged) = newRows match {
          case Some(rows) =>
            val missing = partCols.filterNot(c =>
              rows.columns.exists(_.equalsIgnoreCase(c)))
            require(missing.isEmpty,
              s"merge post-images must carry the lake's partition " +
                s"column(s) $missing")
            stageInserts(conf, fs, txnDir, rows, partCols)
          case None => (Vector.empty[String], 0L)
        }
        val delPred =
          if (affectedKeys.isEmpty) lit(false)
          else col(keyCol).isin(affectedKeys.toSeq: _*)
        deleteCore(spark, root, delPred, adds, recovered, fence,
          txnDir, txnRel)
          .map(del => MergeReport(rowsUpdated, rowsDeleted,
            staged - rowsUpdated, adds.size, del))
      }
    }
  }

  /** Memoized-per-txn-dir insert staging: the `.add` marker tells a retry
    * the inserts are already staged (the walk re-lists them instead of
    * re-running the write job). */
  private def stagedInsertsRef(conf: org.apache.hadoop.conf.Configuration,
                               fs: FileSystem, txnDir: Path,
                               updates: DataFrame,
                               partCols: Seq[String]): (Vector[String], Long) = {
    val marker = new Path(txnDir, ".staged-inserts.json")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      val adds = node.path("adds").elements().asScala
        .map(_.asText()).toVector
      (adds, node.path("rows").asLong())
    } else {
      val staged = stageInserts(conf, fs, txnDir, updates, partCols)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      val a = node.putArray("adds"); staged._1.foreach(a.add)
      node.put("rows", staged._2)
      val out = fs.create(marker, true)
      try out.write(om.writeValueAsBytes(node)) finally out.close()
      staged
    }
  }

  /** Stage `updates` as insert files under `stageRoot` (ONE partitionBy
    * write mirroring the lake layout, repartitioned one-file-per-touched-
    * partition); returns the staged relative paths and their row total.
    * Shared by [[upsertLake]]'s insert lane and [[appendLake]]. */
  private def stageInserts(conf: org.apache.hadoop.conf.Configuration,
                           fs: FileSystem, stageRoot: Path,
                           updates: DataFrame,
                           partCols: Seq[String],
                           bucket: Option[ZLake.BucketInfo] = None)
      : (Vector[String], Long) = {
    val addTmp = new Path(stageRoot, ".add")
    val strung = partCols.foldLeft(updates)((d, c) =>
      d.withColumn(c, col(c).cast("string")))
    val shaped = bucket match {
      // a BUCKETED lake's append must keep the co-location contract:
      // route rows through the declared pmod(murmur3(keys), n) — the task
      // partition number then IS the bucket id, tagged into the staged
      // name below so the bucketed scan parses it back
      case Some(b) =>
        strung.repartition(b.numBuckets, b.cols.map(col): _*)
          .sortWithinPartitions(b.cols.map(col): _*)
      case None =>
        if (partCols.isEmpty) strung.coalesce(1)
        else strung.repartition(partCols.map(col): _*)
    }
    val w = shaped.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(addTmp.toString)
    var adds = Vector.empty[String]
    var inserted = 0L
    val partNum = "^part-(\\d+)-".r
    val walked = ZLake.listDataFiles(fs, addTmp).map(_._1.getPath)
      .sortBy(_.getName)
    val rowsOf = footerRowsAll(fs, conf, walked)
    walked.foreach { p =>
      val n = rowsOf(p)
      if (n > 0L) {
        // on a bucketed lake the staged name carries the bucket id in
        // Spark's `_NNNNN` spelling (parsed back by BucketingUtils)
        val tag = bucket.flatMap(_ =>
          partNum.findFirstMatchIn(p.getName).map(m =>
            f"_${m.group(1).toInt}%05d")).getOrElse("")
        val relp = stagedRel(addTmp, p,
          s"upsert-${java.util.UUID.randomUUID()}$tag.parquet")
        val dst = new Path(stageRoot, relp)
        fs.mkdirs(dst.getParent)
        require(fs.rename(p, dst), s"could not stage $dst")
        adds :+= relp
        inserted += n
      }
    }
    fs.delete(addTmp, true)
    (adds, inserted)
  }

  /** What one append did. */
  final case class AppendReport(filesAdded: Int, rowsInserted: Long)

  /** Journaled APPEND: `rows` land as new files in their partition
    * directories through the same staged-files + journal commit as every
    * other mutation — atomic (all files or none), crash-healed, manifests
    * repaired (so coverage and zero-footer planning survive, which a raw
    * parquet append into the directory would break). The SQL spelling is
    * `INSERT INTO <zlake view> SELECT ...` via [[graft.plans.GraftDml]]. */
  def appendLake(spark: SparkSession, root: String,
                 rows: DataFrame): AppendReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    recover(spark, root)
    val partCols = {
      val fromFiles = ZLake.index(spark, root).partitionCols
      if (fromFiles.nonEmpty) fromFiles
      else ZLake.dirPartitionCols(spark, root)
    }
    val missing = partCols.filterNot(c =>
      rows.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"append rows must carry the lake's partition column(s) $missing")
    // a bucketed lake's append keeps the co-location contract (rows route
    // through the declared hash in stageInserts) — the one mutation a
    // bucketed lake supports
    val bucket = ZLake.bucketInfo(fs, rootPath)
    bucket.foreach { b =>
      val mk = b.cols.filterNot(c => rows.columns.exists(_.equalsIgnoreCase(c)))
      require(mk.isEmpty,
        s"append rows must carry the lake's bucket key column(s) $mk")
    }
    LakeConstraints.validateBatch(spark, root, rows)
    // pure adds under fresh names: an EMPTY read-set — an append never
    // conflicts, and its staging (the only Spark job) runs outside the
    // lock, so ingest does not queue behind a copy-on-write rewrite
    withConflictRetry("INSERT", fs, rootPath) { (txnDir, txnRel) =>
      val (adds, inserted) =
        stageInserts(conf, fs, txnDir, rows, partCols, bucket)
      if (adds.isEmpty) Right(AppendReport(0, 0L))
      else {
        stagedHook.get()()
        commitStaged(spark, fs, rootPath, txnRel, Nil, adds, None,
          () => Nil).map(_ => AppendReport(adds.size, inserted))
      }
    }
  }

  /** One optimistic delete ATTEMPT: triage + stage (no lock), then the
    * short commit window. Left = lost the race; the caller restages.
    * `adds` are pre-staged insert files (upsert's lane) riding the same
    * journal; they stay valid across retries. */
  private def deleteCore(spark: SparkSession, root: String,
                         predicate: Column, adds: Seq[String],
                         recovered: Boolean,
                         fence: Option[String],
                         txnDir: Path, txnRel: String)
      : Either[Seq[String], DeleteReport] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)

    // resolve the predicate once against the lake's read schema (partition
    // columns included), then per-file: substitute that file's partition
    // values as string literals and constant-fold, so the envelope tests
    // see only data-column comparisons and boolean constants
    val df = ZLake.read(spark, root)
    val analyzed = df.filter(predicate).queryExecution.analyzed
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.getOrElse(
      throw new IllegalArgumentException(
        s"predicate did not analyze to a filter: $predicate"))
    require(cond.deterministic, "delete predicate must be deterministic")

    val idx = ZLake.index(spark, root)
    def forFile(fe: ZLake.FileEnvelope): Expression = {
      val pmap = fe.partitionValues
        .map { case (k, v) => k.toLowerCase -> v }.toMap
      val sub = cond.transform {
        case a: AttributeReference if pmap.contains(a.name.toLowerCase) =>
          Literal(UTF8String.fromString(pmap(a.name.toLowerCase)), StringType)
      }
      sub.transformUp {
        case e if e.foldable && e.deterministic =>
          try Literal(e.eval(null), e.dataType)
          catch { case NonFatal(_) => e } // e.g. ANSI cast: stay conservative
      }
    }

    sealed trait Klass
    case object Untouched extends Klass
    case object DropWhole extends Klass
    case object Rewrite extends Klass
    val triage = idx.fes.map { fe =>
      val e = forFile(fe)
      val k =
        if (!ZLake.mayMatch(e, fe)) Untouched
        else if (ZLake.mustMatch(e, fe)) DropWhole
        else Rewrite
      (fe, k)
    }
    val drops = triage.collect { case (fe, DropWhole) => fe }
    val rewrites = triage.collect { case (fe, Rewrite) => fe }
    val untouched = triage.size - drops.size - rewrites.size
    if (drops.isEmpty && rewrites.isEmpty && adds.isEmpty) {
      // nothing to commit: a bare fence write is itself atomic (one
      // rename), and replaying the no-op before it lands changes nothing
      fence.foreach(writeFence(fs, rootPath, _))
      return Right(DeleteReport(triage.size, untouched, 0, 0, 0L, recovered))
    }

    def rel(p: Path): String = ZLake.relPath(rootPath, p)
    val stageRoot = txnDir

    // ---- stage: ONE job rewrites the whole boundary set ------------------
    // Every rewrite-class file reads into a single DataFrame — partition
    // values parse from the paths against an explicit schema keeping them
    // STRING-typed (the lake's own read types) — the keep-filter runs once
    // (keep = NOT(p IS TRUE)), and a partitionBy write lands per-directory
    // consolidated outputs under the stage dir. A directory whose boundary
    // files held no matching row after all (loose envelopes) is SUPPRESSED:
    // its files are not dropped, its staged output not adopted — re-running
    // the same delete stays a byte-level no-op.
    val keep = not(coalesce(predicate, lit(false)))
    val partCols = idx.partitionCols
    def dirRelOf(fe: ZLake.FileEnvelope): String =
      rel(fe.status.getPath.getParent)
    // (dirRel -> staged output files), (dirRel -> kept rows)
    var stagedByDir = Map.empty[String, Seq[Path]]
    var keptByDir = Map.empty[String, Long]
    if (rewrites.nonEmpty) {
      val outDir = new Path(stageRoot, ".out")
      try {
        val all = spark.read.schema(df.schema).option("basePath", root)
          .parquet(rewrites.map(_.status.getPath.toString): _*)
          .filter(keep)
        val w = all.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(outDir.toString)
      } catch {
        // a rewrite input vanished mid-scan: a concurrent writer moved it
        // — an optimistic conflict, not an error
        case NonFatal(e) if isConcurrentFileLoss(e) =>
          return Left(Seq(e.getMessage))
      }
      stagedByDir = ZLake.listDataFiles(fs, outDir).map(_._1.getPath)
        .groupBy(p => ZLake.relPath(outDir, p.getParent))
        .map { case (d, ps) => d -> ps.sortBy(_.getName) }
      val stagedRows = footerRowsAll(fs, conf,
        stagedByDir.values.flatten.toSeq)
      keptByDir = stagedByDir.map { case (d, ps) =>
        d -> ps.map(stagedRows).sum
      }
    }
    val rewritesByDir = rewrites.groupBy(dirRelOf)
    // suppression: a dir whose kept rows == its boundary files' rows lost
    // nothing (exact only when every input row count is known)
    val suppressedDirs = rewritesByDir.keySet.filter { d =>
      val old = rewritesByDir(d).map(_.rows)
      old.forall(_ >= 0L) && keptByDir.getOrElse(d, 0L) == old.sum
    }
    val liveDirs = (rewritesByDir.keySet -- suppressedDirs).toSeq.sorted
    val runId = java.util.UUID.randomUUID()
    val rewriteAdds = liveDirs.flatMap { d =>
      stagedByDir.getOrElse(d, Nil).zipWithIndex.map { case (p, i) =>
        val name = s"rewrite-$runId-$i.parquet"
        val relp = if (d.isEmpty) name else s"$d/$name"
        val dst = new Path(stageRoot, relp)
        fs.mkdirs(dst.getParent)
        require(fs.rename(p, dst), s"could not stage $dst")
        relp
      }
    }
    val rewritten = liveDirs.flatMap(rewritesByDir(_))
    val suppressed = rewrites.size - rewritten.size

    // ---- publish the journal (the commit point), then apply -------------
    val dropRels = drops.map(fe => rel(fe.status.getPath)) ++
      rewritten.map(fe => rel(fe.status.getPath))
    if (dropRels.isEmpty && rewriteAdds.isEmpty && adds.isEmpty) {
      // every envelope-positive dir was suppressed: nothing to commit
      // (same bare-fence contract as the empty-triage return above)
      fence.foreach(writeFence(fs, rootPath, _))
      return Right(DeleteReport(triage.size, untouched + suppressed, 0, 0, 0L,
        recovered))
    }
    stagedHook.get()() // race injection: staged, commit lock not yet taken
    // commit window: validate that every file this attempt drops or
    // rewrites still has the identity triage saw, then publish + apply
    commitStaged(spark, fs, rootPath, txnRel, dropRels,
      rewriteAdds ++ adds, fence,
      () => changedIdentities(fs, (drops ++ rewritten).map(_.status))) match {
      case Left(conflicts) => return Left(conflicts)
      case Right(()) => ()
    }

    // row accounting: whole drops are exact from the manifest; the rewrite
    // lane is old-sum minus staged-footer-sum per live dir
    val rewriteOld = rewritten.map(_.rows)
    val rewriteRows =
      if (rewriteOld.exists(_ < 0L)) -1L
      else rewriteOld.sum - liveDirs.map(keptByDir.getOrElse(_, 0L)).sum
    val dropRows = drops.map(_.rows)
    val rows =
      if (rewriteRows < 0L || dropRows.exists(_ < 0L)) -1L
      else dropRows.sum + rewriteRows
    // emptied dirs (0 kept rows) report their files as whole drops — they
    // were read, but nothing of them survives
    val (emptiedFiles, rewrittenFiles) = rewritten.partition(fe =>
      keptByDir.getOrElse(dirRelOf(fe), 0L) == 0L)
    Right(DeleteReport(triage.size, untouched + suppressed,
      drops.size + emptiedFiles.size, rewrittenFiles.size, rows, recovered))
  }

  /** Heal a delete that crashed after its journal was published: re-apply
    * the journal (idempotent) and retire it. A `_deleting/` staging dir
    * WITHOUT a journal is a pre-commit crash — the lake is intact and the
    * staging is discarded by the next [[deleteFromLake]]. Returns true if
    * a journal was found and applied. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // cheap unlocked probe first: the common no-journal case must not
    // contend with a live writer (whose published journal it may observe
    // mid-apply — that writer owns it)
    if (!fs.exists(new Path(rootPath, JournalName))) false
    else withWriterLock(fs, rootPath) { recoverUnlocked(spark, root) }
  }

  /** [[recover]] for callers already holding the writer lock. */
  private[graft] def recoverUnlocked(spark: SparkSession,
                                     root: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(rootPath, JournalName))) false
    else { applyJournal(spark, fs, rootPath); true }
  }

  /** Test seam: fires between the journal PUBLISH (the commit point) and
    * its apply — the crash window where the merge is durable but not yet
    * materialized and the fence not yet flipped. Specs park a throw here
    * to prove [[recover]]-then-fence-check sequencing is exactly-once. */
  private[graft] val journalPublishedHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  // ---- journal mechanics ---------------------------------------------------

  private def writeJournal(fs: FileSystem, root: Path,
                           drops: Seq[String], replaces: Seq[String],
                           adds: Seq[String],
                           fence: Option[String] = None,
                           stageRel: String = StageDirName): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("version", 1)
    node.put("stage", stageRel) // where this commit's staged files live
    val d = node.putArray("drop"); drops.foreach(d.add)
    val r = node.putArray("replace"); replaces.foreach(r.add)
    val a = node.putArray("add"); adds.foreach(a.add)
    fence.foreach(f => node.put("fence", f))
    val tmp = new Path(root, s".$JournalName.tmp")
    val out = fs.create(tmp, true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    val dst = new Path(root, JournalName)
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"could not publish delete journal at $dst")
  }

  /** Apply + retire the journal at `root`. Every step is idempotent, so a
    * crash mid-apply is healed by simply running this again. */
  private def applyJournal(spark: SparkSession, fs: FileSystem,
                           root: Path): Unit = {
    val jp = new Path(root, JournalName)
    if (!fs.exists(jp)) return
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(jp)
    val node = try om.readTree(in) finally in.close()
    require(node.path("version").asInt(-1) == 1, s"unknown journal at $jp")
    val drops = node.path("drop").elements().asScala.map(_.asText()).toSeq
    val replaces = node.path("replace").elements().asScala.map(_.asText()).toSeq
    val adds = node.path("add").elements().asScala.map(_.asText()).toSeq
    // r10 journals record their txn stage dir; legacy journals staged
    // under the shared `_deleting/`
    val stageRoot = new Path(root, node.path("stage").asText(StageDirName))
    // snapshot-referenced files RETIRE to the trash instead of dying —
    // time-travel reads resolve them there ([[graft.sources.Snapshots]]);
    // a lake with no snapshots takes the plain-delete path unchanged
    lazy val refs = graft.sources.Snapshots.snapshotRefs(spark, root.toString)
    drops.foreach { r =>
      val p = new Path(root, r)
      if (fs.exists(p))
        graft.sources.Snapshots.retire(fs, root, fs.getFileStatus(p), refs)
    }
    (replaces ++ adds).foreach { r =>
      val src = new Path(stageRoot, r)
      val dst = new Path(root, r)
      if (fs.exists(src)) {
        if (fs.exists(dst))
          graft.sources.Snapshots.retire(fs, root, fs.getFileStatus(dst), refs)
        fs.mkdirs(dst.getParent) // adds may open a brand-new partition dir
        require(fs.rename(src, dst), s"could not swap in $dst")
      } else {
        // missing src means "already applied before a crash" ONLY when
        // the destination actually holds the file — an add lost from the
        // stage dir (sweep race, external cleanup) with no destination
        // would otherwise be silently skipped while the drops still
        // apply, turning a recoverable state into data loss
        require(fs.exists(dst),
          s"journal at $root names add '$r' but neither staged source " +
            s"$src nor destination $dst exists — the staged file was " +
            "lost; restore the stage dir or remove the journal after " +
            "manual inspection")
      }
    }
    // incremental manifest repair for every directory the journal touched
    // — batched: one stats job per distinct layout, however many dirs
    ZLake.repairDirManifests(spark,
      (drops ++ replaces ++ adds).map(r => new Path(root, r).getParent)
        .distinct
        // metadata dirs (hidden, e.g. the '_'-prefixed deletion-vector
        // store) hold no data files and need no manifests
        .filterNot(d => ZLake.isHidden(ZLake.relPath(root, d))))
    // materialize the fence BEFORE retiring the journal: a crash between
    // the two re-applies the journal (idempotent) and rewrites the same
    // fence, so the fence can never show a commit that did not land
    val fnode = node.path("fence")
    if (fnode.isTextual) writeFence(fs, root, fnode.asText())
    fs.delete(jp, false)
    if (fs.exists(stageRoot)) { fs.delete(stageRoot, true); () }
  }

  private[sinks] def footerRows(fs: FileSystem,
                         conf: org.apache.hadoop.conf.Configuration,
                         p: Path): Long = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(fs.getFileStatus(p), conf))
    try rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally rd.close()
  }

  /** [[footerRows]] for a batch of files, footers opened concurrently:
    * every journaled mutation row-counts its staged outputs, and a
    * sequential footer sweep serializes N filesystem round-trips the
    * driver then sits in between jobs (each open is I/O-bound, ~5-20 ms
    * local and far worse on object stores). Each open reads one file. */
  private[sinks] def footerRowsAll(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      ps: Seq[Path]): Map[Path, Long] =
    ps.zip(graft.DriverPool.run(8)(ps.map(p => () => footerRows(fs, conf, p))))
      .toMap
}
