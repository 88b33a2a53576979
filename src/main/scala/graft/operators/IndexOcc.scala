package graft.operators

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sinks.LakeDelete
import graft.sources.ZLake

/** The one GENERATION PROTOCOL of the derived indexes (the BM25 postings
  * lake and the IVF assignment lake — [[Retrieval]] / [[Similarity]]).
  * Each kind supplies only its [[Layout]], the rows it stages and where
  * its ingest fence lives; everything below is written once, here.
  *
  *  - POINTER: a `ptrName` sidecar at the index root names the active
  *    generation dir (`versionPrefix<N>`); absent, the layout's default
  *    dir is active ("" = the root itself). Readers resolve pointer →
  *    generation chain ([[IndexLayers]]) and see the old index or the
  *    new, never a mix — they need no coordination.
  *  - APPEND ([[append]]) stages its partitioned write OUTSIDE the index
  *    root's writer lock (the heavy part), then takes the lock only to
  *    re-resolve the active dir and MOVE the staged files in
  *    ([[adoptStaged]]) — an append can never land in a directory a
  *    concurrent compaction has already retired.
  *  - FENCED INGEST ([[ingest]]) is an append whose batch id is checked
  *    against a committed fence before staging and again under the lock;
  *    uncommitted `ingest<B>-*` residue above the fence is purged, the
  *    batch adopts as `ingest<B>-*`, and the kind's fence write is the
  *    commit point — exactly-once without a journal.
  *  - COMPACTION ([[compact]]) purges uncommitted ingest, rewrites
  *    OUTSIDE the lock into an invisible `.compacting-*` dir, then under
  *    the lock VALIDATES its read-set — the pointer still names the
  *    generation it read and the chain's file-identity fingerprint is
  *    unchanged — before the rename to the next version
  *    ([[nextVersion]]) and the atomic pointer swap. A lost race
  *    conflicts and restages (bounded retries), never vanishes.
  *  - VACUUM ([[vacuum]]) deletes retired generations no live or pinned
  *    ([[IndexSnapshots]]) layer reads, then crashed staging dirs.
  */
private[graft] object IndexOcc {

  /** What makes each index kind tick: its pointer sidecar, version-dir
    * prefix, default active dir ("" = the index root), stats sidecar,
    * companion dirs a generation snapshot pins, partition column. */
  final case class Layout(ptrName: String, versionPrefix: String,
                          defaultActive: String,
                          statsFile: Option[String],
                          companionDirs: Seq[String],
                          partition: String)
  val Bm25Layout = Layout("_bm25_postings", "_postings-v", "",
    Some("_bm25_stats.json"), Nil, "bucket")
  val IvfLayout = Layout("_assign", "assign-v", "assign",
    None, Seq("centroids"), "cell")
  // IVF,SQ8: the trained bounds are part of the generation's meaning —
  // restoring pinned codes against rebuilt bounds would silently decode
  // every distance wrong, so the bounds sidecar is a pinned companion
  // exactly like the centroids that define the cell space
  val IvfSq8Layout =
    IvfLayout.copy(companionDirs = Seq("centroids", "sq8_bounds"))

  /** The layout of the index at `root`, sniffed from its sidecars. */
  def layoutOf(fs: FileSystem, root: Path): Layout =
    if (fs.exists(new Path(root, "_bm25_stats.json"))) Bm25Layout
    else if (fs.exists(new Path(root, "centroids"))) {
      if (fs.exists(new Path(root, "sq8_bounds"))) IvfSq8Layout
      else IvfLayout
    }
    else throw new IllegalArgumentException(
      s"$root is not a recognized derived index (no _bm25_stats.json, " +
        "no centroids/)")

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The active generation's name: what the pointer says, else the
    * layout's default. */
  def activeName(fs: FileSystem, root: Path, l: Layout): String =
    LakeDelete.readSidecar(fs, new Path(root, l.ptrName)).map(_.trim)
      .getOrElse(l.defaultActive)

  /** A generation's dir by name ("" = the index root). */
  private def dirOf(root: Path, name: String): Path =
    if (name.isEmpty) root else new Path(root, name)

  def activeDir(spark: SparkSession, path: String, l: Layout): Path = {
    val root = new Path(path)
    dirOf(root, activeName(fsOf(spark, root), root, l))
  }

  /** The live generation chain ([[IndexLayers]]), newest first. */
  def chain(fs: FileSystem, root: Path, l: Layout): Seq[IndexLayers.Layer] =
    IndexLayers.chain(fs, dirOf(root, activeName(fs, root, l)).toString,
      base => dirOf(root, base).toString)

  def chain(spark: SparkSession, path: String,
            l: Layout): Seq[IndexLayers.Layer] = {
    val root = new Path(path)
    chain(fsOf(spark, root), root, l)
  }

  /** The next version dir name: one above the highest existing
    * `versionPrefix<N>` dir, so a published name is never reused — not
    * after a rebuild resets the pointer, not when a pin keeps a retired
    * version on disk. Caller holds the writer lock. */
  private def nextVersion(fs: FileSystem, root: Path, l: Layout): String = {
    val maxV = fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory &&
        st.getPath.getName.startsWith(l.versionPrefix) =>
        st.getPath.getName.stripPrefix(l.versionPrefix)
          .takeWhile(_.isDigit) match {
          case "" => 0
          case d => d.toInt
        }
    }.foldLeft(0)(math.max)
    s"${l.versionPrefix}${maxV + 1}"
  }

  /** Make a staged FULL or LAYER generation live: rename it to
    * [[nextVersion]], then swap the pointer. Caller holds the lock. */
  def publishGeneration(fs: FileSystem, root: Path, l: Layout,
                        staged: Path): String = {
    val name = nextVersion(fs, root, l)
    val target = new Path(root, name)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(s"failed to publish generation $target")
    LakeDelete.publishSidecar(fs, new Path(root, l.ptrName), name)
    name
  }

  /** Conflict counter (compactions that validated stale and restaged) —
    * observable by race tests, mirrors `LakeDelete.conflictRetries`. */
  val compactionConflicts = new AtomicLong(0L)

  /** Test hook: runs after an append, ingest or compaction has staged its
    * write, before it takes the lock — the race window. */
  val stagedHook = new AtomicReference[() => Unit](() => ())

  /** Compaction restage budget before giving up loudly. */
  val maxCompactionRetries = 3

  /** Fresh dot-prefixed (reader-invisible) staging dir name. */
  def stageName(kind: String): String =
    s".$kind-${java.util.UUID.randomUUID()}"

  /** APPEND: `write` fills a fresh `.append-*` stage outside the lock;
    * under it the staged files adopt into the re-resolved active dir and
    * `underLock` runs with `write`'s result (BM25 advances its stats). */
  def append[T](spark: SparkSession, path: String, l: Layout)(
      write: Path => T)(underLock: T => Unit): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val stage = new Path(root, stageName("append"))
    val staged = write(stage)
    stagedHook.get()()
    LakeDelete.withWriterLock(fs, root) {
      adoptStaged(fs, stage, dirOf(root, activeName(fs, root, l)))
      underLock(staged)
    }
    fs.delete(stage, true)
    ()
  }

  /** FENCED INGEST of batch `batchId`: `state` (the kind's committed
    * state, read once before staging and once under the lock) carries the
    * fence `fence` extracts. False (and nothing written) when the fence
    * already covers the batch; otherwise `write` stages under the first
    * read, and under the lock the fence is re-checked, uncommitted residue
    * above it purged, the batch adopted as `ingest<batchId>-*` and `commit`
    * — the kind's fence advance, the commit point — run with the second
    * read and `write`'s result. */
  def ingest[S, T](spark: SparkSession, path: String, l: Layout, batchId: Long)(
      state: => S)(fence: S => Option[Long])(write: (S, Path) => T)(
      commit: (S, T) => Unit): Boolean = {
    val before = state
    if (fence(before).exists(_ >= batchId)) return false
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val stage = new Path(root, stageName("append"))
    val staged = write(before, stage)
    stagedHook.get()()
    val adopted = LakeDelete.withWriterLock(fs, root) {
      val locked = state
      val f = fence(locked).getOrElse(-1L)
      if (f >= batchId) { fs.delete(stage, true); false }
      else {
        purgeUncommitted(fs, root, l, f)
        adoptStaged(fs, stage, dirOf(root, activeName(fs, root, l)),
          s"ingest$batchId")
        commit(locked, staged)
        true
      }
    }
    fs.delete(stage, true)
    adopted
  }

  /** SELECTIVE COMPACTION: rewrite only the partitions whose visible file
    * count exceeds `target` into a layer over the current generation, or
    * flatten the chain (full rewrite, no `_layer.json`) once it reaches
    * [[IndexLayers.MaxLayers]] or every partition is eligible. `fence`
    * is the kind's committed ingest fence (-1 = none). Returns the
    * visible data-file counts (before, after). */
  def compact(spark: SparkSession, path: String, l: Layout, target: Int,
              fence: => Long): (Int, Int) = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (attempt < maxCompactionRetries) {
      // a crashed fenced ingest's uncommitted files must never be baked
      // into a rewritten generation — purge them before reading
      LakeDelete.withWriterLock(fs, root) {
        purgeUncommitted(fs, root, l, fence)
      }
      val layers = chain(fs, root, l)
      val cur = layers.head.dir
      val fp = IndexLayers.fingerprintChain(fs, layers)
      val counts = IndexLayers.fileCounts(fs, layers, l.partition)
      val before = counts.values.sum
      val eligible = counts.filter(_._2 > target).keys.toVector.sorted
      val flatten = layers.size >= IndexLayers.MaxLayers ||
        (eligible.size == counts.size && counts.nonEmpty)
      if (eligible.isEmpty && !flatten && layers.size == 1)
        return (before, before) // compact already
      val staging = new Path(root, stageName("compacting"))
      val selective = !flatten && eligible.nonEmpty
      val src = IndexLayers.readChain(spark, layers, l.partition)
      val toWrite =
        if (selective)
          src.filter(col(l.partition)
            .isin(eligible.map(v => Int.box(v.toInt)): _*))
        else src
      toWrite.repartition(col(l.partition))
        .write.mode("overwrite").partitionBy(l.partition)
        .parquet(staging.toString)
      // the base as the pointer spells it ("" = the root layout)
      if (selective) IndexLayers.write(fs, staging,
        ZLake.relPath(root, new Path(cur)), l.partition, eligible)
      stagedHook.get()()
      val published = LakeDelete.withWriterLock(fs, root) {
        val layersNow = chain(fs, root, l)
        val stillCur = layersNow.head.dir == cur &&
          IndexLayers.fingerprintChain(fs, layersNow) == fp
        if (stillCur) publishGeneration(fs, root, l, staging)
        else fs.delete(staging, true)
        stillCur
      }
      if (published)
        return (before, IndexLayers.fileCounts(fs, chain(fs, root, l),
          l.partition).values.sum)
      compactionConflicts.incrementAndGet()
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"compacting $path lost to concurrent index mutations " +
        s"$maxCompactionRetries times — giving up (the staged rewrites " +
        "were discarded; the live index is untouched)")
  }

  /** Delete retired generations — run once in-flight readers of the
    * pre-compaction index have drained: the default dir and every
    * `versionPrefix*` dir outside the live chain and every pin, and, for
    * a root-default layout, the root's own `partition=` dirs once no live
    * or pinned layer reads them. Then crashed staging dirs. */
  def vacuum(spark: SparkSession, path: String, l: Layout): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val keep = chain(fs, root, l)
      .map(x => ZLake.relPath(root, new Path(x.dir))).toSet ++
      IndexSnapshots.pinnedPointers(fs, root)
    fs.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && !keep.contains(n) &&
        (n == l.defaultActive || n.startsWith(l.versionPrefix) ||
          (l.defaultActive.isEmpty && !keep.contains("") &&
            n.startsWith(s"${l.partition}=")))
    }.map { st => fs.delete(st.getPath, true); 1 }.sum +
      sweepStaleStages(fs, root)
  }

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

  /** Delete every `ingest<B>-*` data file with `B > fence` in the live
    * chain's dirs (recursively) — the UNCOMMITTED residue of a crashed
    * fenced ingest. The fence is the commit point: replays re-adopt the
    * batch from scratch, and compactions purge first so an uncommitted
    * fraction can never be baked into a rewritten generation. Caller
    * holds the writer lock. */
  private def purgeUncommitted(fs: FileSystem, root: Path, l: Layout,
                               fence: Long): Unit = {
    def walk(dir: Path): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !ZLake.isHidden(n)) walk(st.getPath)
        else IngestTag.findPrefixMatchOf(n)
          .filter(_.group(1).toLong > fence)
          .foreach(_ => fs.delete(st.getPath, false))
      }
    chain(fs, root, l).foreach(x => walk(new Path(x.dir)))
  }

  /** Sweep crashed staging dirs (`.append-*` / `.compacting-*` /
    * `.restoring-*` — the latter from a generation restore that died
    * after copying) older than the lake's stale-lock age — called by
    * [[vacuum]], which already runs only once in-flight work has
    * drained. */
  private def sweepStaleStages(fs: FileSystem, root: Path): Int = {
    val cutoff = System.currentTimeMillis() - LakeDelete.staleLockMs.get()
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
