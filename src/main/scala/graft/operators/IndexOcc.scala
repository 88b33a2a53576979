package graft.operators

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sources.ZLake

/** OCC plumbing shared by the DERIVED indexes (the BM25 postings lake and
  * the IVF assignment lake — [[Retrieval]] / [[Similarity]]).
  *
  * r11 shipped both indexes under a documented-but-unenforced
  * single-maintainer contract: an append that landed in the active
  * directory while a compaction was reading it missed the pointer swap
  * and was silently LOST. The lake layer already solved this shape with
  * writer locks + read-set validation ([[graft.sinks.LakeDelete]]); this
  * object routes the index mutations through the SAME machinery:
  *
  *  - APPEND stages its partitioned write OUTSIDE the lock (the heavy
  *    part), then takes the index root's writer lock only to re-resolve
  *    the active directory and MOVE the staged files in — so an append
  *    can never land in a directory a concurrent compaction has already
  *    retired.
  *  - COMPACTION rewrites OUTSIDE the lock into an invisible
  *    `.compacting-*` staging dir, then takes the lock and VALIDATES its
  *    read-set — the pointer still names the directory it read AND that
  *    directory's file-identity fingerprint is unchanged — before the
  *    rename + atomic pointer swap. A lost race conflicts-and-restages
  *    (bounded retries), never vanishes.
  *
  * Readers still need no coordination: they resolve the pointer and see
  * the old index or the new, never a mix.
  */
private[graft] object IndexOcc {

  /** Conflict counter (compactions that validated stale and restaged) —
    * observable by race tests, mirrors `LakeDelete.conflictRetries`. */
  val compactionConflicts = new AtomicLong(0L)

  /** Test hook: runs after a compaction has staged its rewrite, before it
    * takes the lock — the window a concurrent append must survive. */
  val stagedHook = new AtomicReference[() => Unit](() => ())

  /** Compaction restage budget before giving up loudly. */
  val maxCompactionRetries = 3

  /** Fresh dot-prefixed (reader-invisible) staging dir name. */
  def stageName(kind: String): String =
    s".$kind-${java.util.UUID.randomUUID()}"

  /** Move every data file of a staged partitioned write into `active`,
    * preserving its `key=value` partition dirs, renamed `<prefix>-<name>`.
    * `prefix` is evaluated per file: the default tags each file with a
    * fresh `a<uuid8>`, a name no concurrent append can collide with. The
    * streaming ingest passes `ingest<batchId>` so a crashed batch's
    * partial adoption is identifiable: the replay (and the compactions)
    * purge `ingest<B>-*` files with B above the committed fence before
    * re-adopting, which is what makes the fenced ingest exactly-once
    * without a journal. Caller holds the index writer lock. */
  def adoptStaged(fs: FileSystem, stage: Path, active: Path,
                  prefix: => String =
                    s"a${java.util.UUID.randomUUID().toString.take(8)}")
      : Unit =
    ZLake.listDataFiles(fs, stage).foreach { case (st, _) =>
      val dirRel = ZLake.relPath(stage, st.getPath.getParent)
      val tgtDir = if (dirRel.isEmpty) active else new Path(active, dirRel)
      fs.mkdirs(tgtDir)
      val tgt = new Path(tgtDir, s"$prefix-${st.getPath.getName}")
      if (!fs.rename(st.getPath, tgt))
        throw new java.io.IOException(
          s"failed to adopt staged file ${st.getPath} into $tgtDir")
    }

  private val IngestTag = "ingest(\\d+)-".r

  /** Delete every `ingest<B>-*` data file with `B > fence` under `dirs`
    * (recursively) — the UNCOMMITTED residue of a crashed fenced ingest.
    * The fence is the commit point: replays re-adopt the batch from
    * scratch, and compactions purge first so an uncommitted fraction can
    * never be baked into a rewritten generation. Returns files removed. */
  def purgeUncommittedIngest(fs: FileSystem, dirs: Seq[Path],
                             fence: Long): Int = {
    def walk(dir: Path): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).map { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          walk(st.getPath)
        else IngestTag.findPrefixMatchOf(n) match {
          case Some(m) if m.group(1).toLong > fence =>
            fs.delete(st.getPath, false); 1
          case _ => 0
        }
      }.sum
    dirs.map(walk).sum
  }

  /** Sweep crashed staging dirs (`.append-*` / `.compacting-*` /
    * `.restoring-*` — the latter from a generation restore that died
    * after copying, ADVICE r12) older than the lake's stale-lock age —
    * called by the vacuums, which already run only once in-flight work
    * has drained. */
  def sweepStaleStages(fs: FileSystem, root: Path): Int = {
    val cutoff = System.currentTimeMillis() -
      graft.sinks.LakeDelete.staleLockMs.get()
    fs.listStatus(root).toSeq.count { st =>
      val n = st.getPath.getName
      val stale = st.isDirectory &&
        (n.startsWith(".append-") || n.startsWith(".compacting-") ||
          n.startsWith(".restoring-")) &&
        st.getModificationTime < cutoff
      if (stale) fs.delete(st.getPath, true)
      stale
    }
  }
}
