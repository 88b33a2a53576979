package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.operators.IndexOcc.Layout
import graft.sinks.LakeDelete
import graft.sources.{ZLake => Z}

/** GENERATION snapshots for the derived indexes (BM25 postings lake, IVF
  * assignment lake) — VERDICT r11 #4: [[graft.sources.Snapshots]] rolls
  * LAKES back atomically, but the indexes' version pointers stayed live,
  * so after a group restore a registered ANN/BM25 index still reflected
  * the rolled-back-away corpus (the ANN fingerprint guard degrades to
  * scans; a direct `searchBm25Index` serves stale postings unguarded).
  *
  * A generation pin records, in a JSON sidecar under
  * `_graft_index_snapshots/`, the POINTER value (active directory name),
  * the active directory's file identities `(rel, len, mtime)`, the stats
  * sidecar bytes (BM25), and the identities of immutable companion dirs
  * (IVF centroids). Restore republishes exactly that state as a FRESH
  * version directory (copy-on-restore — index-sized, never corpus-sized)
  * plus one atomic pointer swap, so concurrent readers see old or
  * restored, never a mix, and no existing version dir is ever mutated.
  * The vacuums skip pinned versions; a pin whose files were force-removed
  * fails the restore loudly, never partially.
  *
  * Both verbs run under the index root's writer lock — the same lock
  * [[IndexOcc]] routes appends and compactions through — so a pin is a
  * consistent cut of the maintenance stream. */
object IndexSnapshots {

  val SnapDirName = "_graft_index_snapshots"

  /** The chain's RESOLVED data-file identities, ROOT-relative — what a
    * pin records; spans layers, excludes shadowed partitions. */
  private def resolvedIdentities(fs: FileSystem, root: Path,
                                 l: Layout): Seq[(String, Long, Long)] =
    IndexLayers.resolvedFiles(fs, root, IndexOcc.chain(fs, root, l),
      l.partition)

  private def snapPath(root: Path, tag: String): Path = {
    require(tag.nonEmpty && !tag.contains('/') && !tag.startsWith("."),
      s"bad snapshot tag '$tag'")
    new Path(new Path(root, SnapDirName), s"$tag.json")
  }

  /** Pin the index's current generation under `tag`. */
  def snapshot(spark: SparkSession, indexRoot: String, tag: String): Unit = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val l = IndexOcc.layoutOf(fs, root)
    LakeDelete.withWriterLock(fs, root) {
      val dst = snapPath(root, tag)
      require(!fs.exists(dst), s"index snapshot '$tag' exists at $indexRoot")
      val ptr = IndexOcc.activeName(fs, root, l)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      // format 2 = file rels are ROOT-relative (chain-resolved, r13);
      // format 1 pins (pre-r13) stored rels relative to the pinned
      // version dir — readPin rewrites those on load (ADVICE r13)
      node.put("version", 2)
      node.put("created", System.currentTimeMillis())
      node.put("pointer", ptr)
      val filesNode = node.putObject("files")
      // ROOT-relative and chain-resolved: a pin taken over a layered
      // generation (selective compaction) spans every live layer
      resolvedIdentities(fs, root, l).foreach { case (rel, len, mt) =>
        val o = filesNode.putObject(rel)
        o.put("len", len); o.put("mtime", mt); ()
      }
      l.statsFile.flatMap(sf => LakeDelete.readSidecar(fs, new Path(root, sf)))
        .foreach(node.put("stats", _))
      val compNode = node.putObject("companions")
      l.companionDirs.foreach { d =>
        val arr = compNode.putArray(d)
        Z.dataFileIdentities(fs, new Path(root, d)).foreach {
          case (rel, len, mt) =>
            val o = arr.addObject()
            o.put("rel", rel); o.put("len", len); o.put("mtime", mt); ()
        }
      }
      fs.mkdirs(new Path(root, SnapDirName))
      LakeDelete.publishSidecar(fs, dst, om.writeValueAsString(node))
    }
  }

  private final case class Pin(pointer: String,
                               files: Seq[(String, Long, Long)],
                               stats: Option[String],
                               companions: Map[String, Seq[(String, Long, Long)]])

  private def readPin(fs: FileSystem, root: Path, tag: String): Pin = {
    val txt = LakeDelete.readSidecar(fs, snapPath(root, tag))
    require(txt.isDefined, s"no index snapshot '$tag' at $root")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(txt.get)
    import scala.jdk.CollectionConverters._
    val pointer = node.get("pointer").asText
    val fmt = node.path("version").asInt(1)
    val files = node.path("files").fields().asScala.toSeq.map { e =>
      // format 1 (pre-r13) rels are relative to the PINNED VERSION DIR;
      // format 2 rels are root-relative. Rewrite v1 on load so every
      // consumer (restore staging, precheck, vacuum pin-awareness) sees
      // one shape — without this, any pre-r13 pin fails restore loudly
      // as "pinned file gone" (ADVICE r13). One v1 cohort is ALREADY
      // root-relative: the r13 writer chain-resolved rels while still
      // stamping version:1, so unconditional prefixing would double the
      // version dir (ADVICE r14). The r14 name-shape rule (`=` in the
      // first component ⇒ version-dir-relative) broke the r13 cohort's
      // ROOT-LAYER files (rels like `bucket=3/part-...` directly under
      // the index root — the case [[pinnedPointers]] maps to "").
      // Disambiguate by EVIDENCE instead (ADVICE r15): an ambiguous rel
      // resolves to whichever candidate exists with the pinned
      // (len, mtime) identity — unprefixed first (the r13 cohort), then
      // pointer-prefixed (the pre-r13 cohort); when neither matches, the
      // prefixed form keeps the r14 behavior so a genuinely-gone pinned
      // file still fails restore loudly at precheck.
      val key = e.getKey
      val len = e.getValue.get("len").asLong
      val mt = e.getValue.get("mtime").asLong
      def matchesPin(rel: String): Boolean =
        Z.unchangedStatus(fs, new Path(root, rel), len, mt).isDefined
      val verRelative = key.takeWhile(_ != '/').contains('=')
      val rel =
        if (fmt >= 2 || pointer.isEmpty || !verRelative) key
        else if (matchesPin(key)) key
        else s"$pointer/$key"
      (rel, len, mt)
    }
    val comps = node.path("companions").fields().asScala.toSeq.map { e =>
      e.getKey -> e.getValue.elements().asScala.toSeq.map(o =>
        (o.get("rel").asText, o.get("len").asLong, o.get("mtime").asLong))
    }.toMap
    Pin(pointer,
      files.sortBy(_._1),
      Option(node.get("stats")).map(_.asText),
      comps)
  }

  /** All version-dir names any pin references (the vacuums must keep
    * them; "" = the root layout's own partition dirs). A pin over a
    * LAYERED generation references every layer its resolved files live
    * in, so each leading path component counts (root-layout files — a
    * `bucket=`/`cell=` first component — map to ""). */
  private[graft] def pinnedPointers(fs: FileSystem, root: Path): Set[String] = {
    val dir = new Path(root, SnapDirName)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val pin = readPin(fs, root, st.getPath.getName.stripSuffix(".json"))
        pin.pointer +: pin.files.map { case (rel, _, _) =>
          val head = rel.takeWhile(_ != '/')
          if (head.contains('=')) "" else head
        }
      }
      .toSet
  }

  final case class IndexRestoreReport(filesRestored: Int, newVersion: String)

  /** A restore whose IO-heavy copy phase already ran ([[stageRestore]]):
    * the pinned file set sits in `staging`; [[publishStaged]] makes it
    * live with a rename + pointer swap (+ stats). `staging == null` means
    * the live state already IS the pin — publish is a no-op.
    * `basePointer`/`baseFiles` are the LIVE generation at stage time —
    * publish revalidates against them under the writer lock, so anything
    * that advanced the index between stage and publish (a concurrent
    * append, a rebuild's changed companions) fails the publish instead of
    * being silently discarded by the pointer swap (ADVICE r13). */
  private[graft] final case class StagedRestore(tag: String, staging: Path,
      nFiles: Int, stats: Option[String], pinnedPointer: String,
      basePointer: String = "", baseFiles: Seq[(String, Long, Long)] = Nil)

  /** Validate the pin and copy its file set into a `.restoring-*` staging
    * dir — everything that can FAIL (missing files, changed companions)
    * or take time (the copies), with the live index untouched. Group
    * restores ([[graft.sources.Snapshots.restoreTables]]) stage every
    * index BEFORE any pointer swaps, so an IO failure surfaces with zero
    * indexes (and zero tables) mutated — ADVICE r12. */
  private[graft] def stageRestore(spark: SparkSession, indexRoot: String,
                                  tag: String): StagedRestore = {
    val root = new Path(indexRoot)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val l = IndexOcc.layoutOf(fs, root)
    LakeDelete.withWriterLock(fs, root) {
      val pin = readPin(fs, root, tag)
      // companions must be bit-identical: centroids define the cell space
      pin.companions.foreach { case (d, pinned) =>
        val cur = Z.dataFileIdentities(fs, new Path(root, d))
        require(cur == pinned.sortBy(_._1),
          s"companion dir '$d' of $indexRoot changed since pin '$tag' " +
            "(full rebuild?) — the pinned generation cannot be restored")
      }
      // every pinned identity must still resolve (rels are ROOT-relative,
      // spanning however many layers the pinned generation had)
      val missing = pin.files.filter { case (rel, len, mt) =>
        Z.unchangedStatus(fs, new Path(root, rel), len, mt).isEmpty
      }
      require(missing.isEmpty,
        s"index snapshot '$tag' at $indexRoot is unrestorable: " +
          s"${missing.size} pinned file(s) gone or changed, first: " +
          s"${missing.head._1} (vacuumed without pin awareness?)")
      // fast path: the live state IS the pin
      val curPtr = IndexOcc.activeName(fs, root, l)
      val curFiles = resolvedIdentities(fs, root, l)
      val alreadyPinned = curPtr == pin.pointer &&
        curFiles == pin.files &&
        pin.stats.forall(s => LakeDelete.readSidecar(fs,
          new Path(root, l.statsFile.get)).contains(s))
      if (alreadyPinned) StagedRestore(tag, null, 0, None, curPtr)
      else {
        val basePtr = curPtr
        val baseFiles = curFiles
        // copy-on-restore into staging (never mutate a published version
        // dir: other pins and in-flight readers reference it). The staged
        // dir is a FULL generation — restoring a layered pin flattens its
        // chain (no _layer.json is written at publish)
        val staging = new Path(root, IndexOcc.stageName("restoring"))
        pin.files.foreach { case (rel, _, _) =>
          val src = new Path(root, rel)
          // drop the version-dir component: "assign-v2/cell=3/f.parquet"
          // restores as "cell=3/f.parquet"; root-layout rels
          // ("bucket=3/f.parquet") keep their shape
          val head = rel.takeWhile(_ != '/')
          val inner = if (head.contains('=')) rel
            else rel.substring(head.length + 1)
          val dst = new Path(staging, inner)
          fs.mkdirs(dst.getParent)
          require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
            false, true, conf), s"index restore failed copying $src")
        }
        StagedRestore(tag, staging, pin.files.size, pin.stats, pin.pointer,
          basePtr, baseFiles)
      }
    }
  }

  /** Publish a [[stageRestore]]d generation: rename the staging dir to a
    * fresh version dir, swap the pointer, then reinstate the pinned stats
    * — metadata-sized work only (the copies already happened). Pointer
    * FIRST, stats second (ADVICE r12): a crash between the two leaves
    * restored postings with momentarily-stale stats — self-healing (the
    * alreadyPinned check re-runs the stats write) and strictly better
    * than stats-first, whose crash window mutated the LIVE index's stats
    * before any postings moved. */
  private[graft] def publishStaged(spark: SparkSession, indexRoot: String,
                                   staged: StagedRestore): IndexRestoreReport = {
    if (staged.staging == null)
      return IndexRestoreReport(0, staged.pinnedPointer)
    val root = new Path(indexRoot)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val l = IndexOcc.layoutOf(fs, root)
    LakeDelete.withWriterLock(fs, root) {
      // revalidate what stageRestore checked — the stage→publish window
      // is LONG in group restores (every table restore runs in between):
      // a concurrent append must not be silently discarded by the pointer
      // swap, and rebuilt companions (centroids/sq8_bounds) must not be
      // published under pinned codes (ADVICE r13)
      val pin = readPin(fs, root, staged.tag)
      pin.companions.foreach { case (d, pinned) =>
        val cur = Z.dataFileIdentities(fs, new Path(root, d))
        require(cur == pinned.sortBy(_._1),
          s"companion dir '$d' of $indexRoot changed between staging and " +
            s"publish of pin '${staged.tag}' — aborting the restore publish")
      }
      require(IndexOcc.activeName(fs, root, l) == staged.basePointer &&
          resolvedIdentities(fs, root, l) == staged.baseFiles,
        s"$indexRoot advanced between staging and publish of pin " +
          s"'${staged.tag}' (concurrent append/compaction?) — aborting " +
          "the restore publish; re-run the restore")
      val nextName = IndexOcc.publishGeneration(fs, root, l, staged.staging)
      staged.stats.foreach(s => LakeDelete.publishSidecar(fs,
        new Path(root, l.statsFile.get), s))
      IndexRestoreReport(staged.nFiles, nextName)
    }
  }

  /** Republish the pinned generation: a fresh version dir holding exactly
    * the pinned file set (copied from wherever the pinned identities
    * still live — the pinned version dir, kept by vacuum), the pinned
    * stats bytes, one atomic pointer swap. Fails loudly — never partially
    * — when a pinned file was force-removed or a companion dir (IVF
    * centroids) no longer matches the pin (a full rebuild happened; the
    * pinned generation is meaningless against new centroids). */
  def restore(spark: SparkSession, indexRoot: String,
              tag: String): IndexRestoreReport =
    publishStaged(spark, indexRoot, stageRestore(spark, indexRoot, tag))

  /** Group-restore precheck: the tag exists, companions are unchanged,
    * and every pinned file still resolves — everything [[restore]] would
    * refuse on, surfaced with ZERO indexes touched. */
  private[graft] def precheck(spark: SparkSession, indexRoot: String,
                              tag: String): Unit = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pin = readPin(fs, root, tag)
    pin.companions.foreach { case (d, pinned) =>
      val cur = Z.dataFileIdentities(fs, new Path(root, d))
      require(cur == pinned.sortBy(_._1),
        s"companion dir '$d' of $indexRoot changed since pin '$tag'")
    }
    pin.files.foreach { case (rel, len, mt) =>
      require(Z.unchangedStatus(fs, new Path(root, rel), len, mt).isDefined,
        s"pinned index file $rel of '$tag' at $indexRoot is gone or changed")
    }
  }

  /** Tags pinned at `indexRoot`, sorted. */
  def list(spark: SparkSession, indexRoot: String): Seq[String] = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = new Path(root, SnapDirName)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  /** Drop a pin (its version dir becomes vacuumable again). */
  def deleteSnapshot(spark: SparkSession, indexRoot: String,
                     tag: String): Boolean = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(snapPath(root, tag), false)
  }
}
