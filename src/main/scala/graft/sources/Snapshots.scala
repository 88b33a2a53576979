package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.{ZLake => Z}

/** Named SNAPSHOTS of a z-lake — pin the exact file set a reader sees, keep
  * it readable across later mutations, reclaim space when done. The
  * training-reproducibility contract a data engine owes its consumers: tag
  * the corpus a run is about to train on, and months of compactions,
  * GDPR deletes, and CDC upserts later, `readSnapshot` still plans and
  * scans the byte-identical dataset (the miniature of Delta/Iceberg time
  * travel, done at the explicit-tag granularity a training pipeline
  * actually schedules around).
  *
  * How it stays cheap and exact:
  *  - `snapshot(tag)` records each live data file's IDENTITY
  *    `(relative path, length, mtime)` AND its full stats entry (envelope,
  *    nulls, sketches, blooms, sums — [[ZLake.putEntry]]'s manifest
  *    format), one JSON sidecar under `_graft_snapshots/`. A snapshot read
  *    therefore keeps the whole planning stack — envelope + bloom file
  *    pruning, metadata-only aggregates ride the same [[ZLake
  *    .StatsFileIndex]] — with ZERO footer opens, even for files that have
  *    since left the live tree.
  *  - The lake's journaled mutations ([[graft.sinks.LakeDelete]] drops and
  *    replacements, [[graft.sinks.Sinks.compactLake]] swaps) RETIRE files
  *    through [[retire]]: a file referenced by any snapshot MOVES to
  *    `_graft_trash/<mtime>-<len>/<rel>` (a rename, not a copy — '_'-
  *    prefixed, invisible to every live reader); an unreferenced file is
  *    deleted as before, so a lake with no snapshots pays nothing.
  *  - Resolution is deterministic, no searching: an entry reads from its
  *    live path when `(len, mtime)` still match, else from the trash path
  *    its identity names. A miss (vacuumed, or mutated outside the
  *    journaled paths — e.g. a whole-table overwrite) raises with the
  *    missing file named, never silently returns partial data.
  *  - `vacuum(keep)` drops every other snapshot and every trash file no
  *    surviving snapshot references — the explicit retention step, like
  *    `VACUUM` on any lakehouse table.
  *
  * Out of scope by design: `zorderedWrite`-style whole-directory
  * overwrites bypass the retire path (they are table REPLACEMENT, not
  * incremental maintenance) — snapshot before one and the snapshot read
  * will fail loudly, not lie. Single-writer per table, as everywhere in
  * this lake.
  */
object Snapshots {

  val SnapshotsDirName = "_graft_snapshots"
  val TrashDirName = "_graft_trash"

  /** One snapshotted file: identity + its stats entry. */
  private final case class SnapFile(rel: String, len: Long, mtime: Long,
                                    entry: Z.ManifestEntry)
  private final case class Snap(schema: StructType, created: Long,
                                files: Seq[SnapFile],
                                dv: Seq[(String, Long, Long)])

  private def snapDir(root: Path) = new Path(root, SnapshotsDirName)
  private def snapPath(root: Path, tag: String): Path = {
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9._-]+"),
      s"snapshot tag must be [A-Za-z0-9._-]+, got '$tag'")
    new Path(snapDir(root), s"$tag.json")
  }
  private def trashPath(root: Path, rel: String, len: Long, mtime: Long) =
    new Path(new Path(root, TrashDirName), s"$mtime-$len/$rel")

  /** Record the lake's current live file set under `tag`. Stats ride from
    * the manifests (or footers where uncovered) so the snapshot read keeps
    * full pruning. Refuses an existing tag — snapshots are immutable.
    * Runs under the writer lock (r11): the harvest→sidecar window used to
    * race a concurrent mutation's commit — the mutation's retire pass saw
    * no reference yet and plain-deleted files the sidecar was about to
    * pin, leaving a broken (fail-loud, but avoidable) snapshot. */
  def snapshot(spark: SparkSession, root: String, tag: String): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sinks.LakeDelete.withWriterLock(fs, rootPath) {
      // heal any half-applied journaled mutation first: a snapshot must
      // pin a consistent committed state, not a mid-commit one
      graft.sinks.LakeDelete.recoverUnlocked(spark, root)
      snapshotLocked(spark, root, tag)
    }
  }

  /** GROUP snapshot: pin N lakes under ONE tag, CONSISTENTLY — every
    * writer lock is held for the whole group, so no mutation can land
    * between any two pins (the cross-table guarantee a training run
    * reading documents + embeddings + token lakes actually needs, and
    * one that per-table Delta/Iceberg snapshots cannot give). Locks
    * acquire in sorted-root order (deadlock-free against any other
    * group), and a failure mid-group removes the tags already written —
    * all lakes carry `tag`, or none do. (A hard CRASH mid-group can
    * leave the tag on a prefix of the tables — sidecars are per-table
    * files, there is no cross-table journal; re-run `snapshotTables`
    * under a fresh tag, or delete the partial tag's sidecars. The
    * exception path, the one a driver actually hits, is all-or-nothing.) */
  def snapshotTables(spark: SparkSession, roots: Seq[String],
                     tag: String, indexRoots: Seq[String] = Nil): Unit = {
    val sorted = roots.distinct.sorted
    val idxSorted = indexRoots.distinct.sorted
    require(sorted.nonEmpty, "snapshotTables needs at least one root")
    val conf = spark.sessionState.newHadoopConf()
    def go(i: Int): Unit =
      if (i == sorted.length) {
        val done = scala.collection.mutable.ArrayBuffer[String]()
        val idxDone = scala.collection.mutable.ArrayBuffer[String]()
        try {
          sorted.foreach { r =>
            graft.sinks.LakeDelete.recoverUnlocked(spark, r)
            snapshotLocked(spark, r, tag)
            done += r
          }
          // derived-index GENERATIONS pin under the same tag while every
          // lake lock is still held: no corpus mutation can land between
          // the lake pins and the index pins (r12 — a group restore can
          // then reinstate index pointers consistent with the lakes)
          idxSorted.foreach { r =>
            graft.operators.IndexSnapshots.snapshot(spark, r, tag)
            idxDone += r
          }
        } catch {
          case e: Throwable =>
            // all-or-nothing: retract the tags already written
            done.foreach { r =>
              val p = snapPath(new Path(r), tag)
              try { p.getFileSystem(conf).delete(p, false); () }
              catch { case scala.util.control.NonFatal(_) => () }
            }
            idxDone.foreach { r =>
              try {
                graft.operators.IndexSnapshots.deleteSnapshot(spark, r, tag)
                ()
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            throw e
        }
      } else {
        val p = new Path(sorted(i))
        graft.sinks.LakeDelete.withWriterLock(p.getFileSystem(conf), p) {
          go(i + 1)
        }
      }
    go(0)
  }

  private def snapshotLocked(spark: SparkSession, root: String,
                             tag: String): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val dst = snapPath(rootPath, tag)
    require(!fs.exists(dst), s"snapshot '$tag' already exists at $root")
    val h = Z.harvest(spark, root)
    require(h.fes.nonEmpty, s"nothing to snapshot at $root")
    val schema = h.schema.getOrElse(
      spark.read.parquet(h.fes.head.status.getPath.toString).schema)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("version", 1)
    node.put("created", System.currentTimeMillis())
    node.put("schema", schema.toDDL)
    val filesNode = node.putObject("files")
    h.fes.foreach { fe =>
      val rel = Z.relPath(rootPath, fe.status.getPath)
      val f = Z.putEntry(filesNode, rel, fe)
      f.put("mtime", fe.status.getModificationTime); ()
    }
    // merge-on-read deletion vectors are row-level state a pinned FILE
    // set alone cannot represent — so the snapshot pins the DV STORE
    // GENERATION too (identity of every live store file), and
    // [[readSnapshot]] re-applies exactly those vectors. The journaled
    // mutation paths retire replaced store files through [[retire]] like
    // any referenced data file, so the pinned generation stays resolvable
    // live-or-trash across later deletes and compactions (Delta's DV +
    // time-travel composition).
    val dvNode = node.putObject("dv")
    graft.sinks.DeletionVectors.storeFiles(fs, rootPath).foreach { p =>
      val st = fs.getFileStatus(p)
      val o = dvNode.putObject(Z.relPath(rootPath, p))
      o.put("len", st.getLen)
      o.put("mtime", st.getModificationTime); ()
    }
    fs.mkdirs(snapDir(rootPath))
    val tmp = new Path(snapDir(rootPath), s".$tag.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
    require(fs.rename(tmp, dst), s"could not publish snapshot at $dst")
  }

  def listSnapshots(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val d = snapDir(rootPath)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json")).sorted
  }

  /** Snapshot sidecar JSON reads — a test seam: [[snapshotRefs]] caching
    * must keep journaled-mutation sequences from re-parsing every sidecar
    * per mutation (asserted in SnapshotSpec). */
  private[graft] val sidecarOpens =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def readSnap(fs: FileSystem, root: Path, tag: String): Snap = {
    val p = snapPath(root, tag)
    require(fs.exists(p), s"no snapshot '$tag' at $root")
    sidecarOpens.incrementAndGet()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(p)
    val node = try om.readTree(in) finally in.close()
    require(node.path("version").asInt(-1) == 1, s"unknown snapshot format: $p")
    val files = node.path("files").fields().asScala.map { e =>
      val f = e.getValue
      SnapFile(e.getKey, f.path("len").asLong(), f.path("mtime").asLong(),
        Z.parseEntry(f))
    }.toSeq.sortBy(_.rel)
    val dv = node.path("dv").fields().asScala.map { e =>
      (e.getKey, e.getValue.path("len").asLong(),
        e.getValue.path("mtime").asLong())
    }.toSeq.sortBy(_._1)
    Snap(StructType.fromDDL(node.path("schema").asText()),
      node.path("created").asLong(), files, dv)
  }

  /** Resolve one pinned identity to where its bytes sit NOW: the live
    * path when `(len, mtime)` still match, else the trash path the
    * identity names. Raises naming the file — never silently partial. */
  private def resolve(fs: FileSystem, root: Path, tag: String,
                      rel: String, len: Long, mtime: Long)
      : org.apache.hadoop.fs.FileStatus = {
    Z.unchangedStatus(fs, new Path(root, rel), len, mtime).getOrElse {
      val t = trashPath(root, rel, len, mtime)
      require(fs.exists(t),
        s"snapshot '$tag' is broken: $rel (len=$len) is neither " +
          "live nor in trash — vacuumed, or mutated outside the " +
          "journaled paths")
      fs.getFileStatus(t)
    }
  }

  /** The snapshot's pinned deletion-vector store files, resolved
    * live-or-trash. Empty for a snapshot taken without vectors. */
  private def pinnedDvPaths(fs: FileSystem, root: Path, tag: String,
                            snap: Snap): Seq[Path] =
    snap.dv.map { case (rel, len, mtime) =>
      resolve(fs, root, tag, rel, len, mtime).getPath }

  /** Snapshot tags with their creation times, oldest first. */
  def listSnapshotsDetailed(spark: SparkSession,
                            root: String): Seq[(String, Long)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    listSnapshots(spark, root)
      .map(tag => tag -> readSnap(fs, rootPath, tag).created)
      .sortBy { case (t, c) => (c, t) }
  }

  /** The latest snapshot created at or before `tsMillis` (Delta's
    * `TIMESTAMP AS OF` resolution at snapshot granularity). None when
    * every snapshot is newer. Ties (same millisecond) resolve to the
    * lexicographically LAST tag — deterministic, and a sequence of
    * programmatic snapshots within one tick still resolves stably. */
  def snapshotAsOf(spark: SparkSession, root: String,
                   tsMillis: Long): Option[String] =
    listSnapshotsDetailed(spark, root)
      .filter(_._2 <= tsMillis).lastOption.map(_._1)

  /** Read the lake AS OF a timestamp: [[readSnapshot]] of
    * [[snapshotAsOf]]'s resolution; raises naming the earliest snapshot
    * when none is old enough (silent empty would read as data loss). */
  def readSnapshotAsOf(spark: SparkSession, root: String,
                       tsMillis: Long): DataFrame = {
    val tag = snapshotAsOf(spark, root, tsMillis).getOrElse {
      val earliest = listSnapshotsDetailed(spark, root).headOption
      throw new IllegalArgumentException(
        s"no snapshot of $root at or before $tsMillis" +
          earliest.map { case (t, c) =>
            s" (earliest is '$t' at $c)" }.getOrElse(" (none exist)"))
    }
    readSnapshot(spark, root, tag)
  }

  /** Does snapshot `tag` pin a non-empty deletion-vector generation?
    * (Planning surfaces that cannot carry the merge-out anti-join — the
    * SQL `USING zlake` snapshot view — must refuse such snapshots.) */
  private[sources] def pinsVectors(spark: SparkSession, root: String,
                                   tag: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    readSnap(fs, rootPath, tag).dv.nonEmpty
  }

  /** The snapshot's pruning index: every entry resolved to its live or
    * trash location, stats from the snapshot itself (zero footer opens).
    * Raises naming the first unresolvable file. */
  def snapshotIndex(spark: SparkSession, root: String,
                    tag: String): Z.StatsFileIndex =
    restrictedIndex(spark, root, tag, None)

  /** [[snapshotIndex]] restricted to `only` identities (None = all). */
  private def restrictedIndex(spark: SparkSession, root: String, tag: String,
                              only: Option[Set[(String, Long, Long)]])
      : Z.StatsFileIndex = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = readSnap(fs, rootPath, tag)
    val wanted = snap.files.filter(sf =>
      only.forall(_.contains((sf.rel, sf.len, sf.mtime))))
    val fes = wanted.map { sf =>
      val st = resolve(fs, rootPath, tag, sf.rel, sf.len, sf.mtime)
      // partition values from the ORIGINAL relative path: the trash copy
      // lives elsewhere, but its row identity (win=..., day=...) does not
      val parts = partsOf(sf.rel)
      Z.FileEnvelope(st, sf.entry.rowGroups, sf.entry.cols, parts,
        sf.entry.rows, sf.entry.nulls, sf.entry.sketches, sf.entry.blooms,
        sf.entry.sums)
    }
    new Z.StatsFileIndex(rootPath, fes, Some(snap.schema),
      snapshotTag = Some(tag))
  }

  private def partsOf(rel: String): Seq[(String, String)] =
    rel.split("/").dropRight(1).toSeq.flatMap(_.split("=", 2) match {
      case Array(k, v) => Seq(k.toLowerCase -> v)
      case _ => Nil
    })

  /** Read the lake AS OF `tag` — same rows the live read returned at
    * snapshot time, full envelope/bloom pruning, however the lake has
    * mutated since (until vacuumed). A snapshot taken while deletion
    * vectors were live re-applies exactly its PINNED store generation —
    * never the current one, which later `deleteMoR`s may have grown. */
  def readSnapshot(spark: SparkSession, root: String,
                   tag: String): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = readSnap(fs, rootPath, tag)
    val base = Z.readWith(spark, root, snapshotIndex(spark, root, tag))
    graft.sinks.DeletionVectors.applyStore(spark, root, base,
      pinnedDvPaths(fs, rootPath, tag, snap))
  }

  /** The CHANGE FEED between two pinned states: every row of the lake at
    * `toTag` (or the live state, when None) that was not there at
    * `fromTag` surfaces as `_change_type = 'insert'`, every `fromTag` row
    * no longer present as `'delete'` — the incremental-consumer contract
    * (downstream sync, audit, "what changed since the last training run")
    * Delta/Iceberg call a change data feed, derived here entirely from
    * snapshot file identities, no per-write change journal needed.
    *
    * Cost follows the CHANGE, not the table: a file present in both
    * states (identity-equal) contributes nothing and is NEVER SCANNED —
    * only removed files (resolved live-or-trash, exactly like a snapshot
    * read) and added files plan into the two scans. `rowLevel = true`
    * (default) then cancels carried-over rows with a multiset
    * `EXCEPT ALL` in each direction, so a copy-on-write rewrite (an
    * upsert touching 3 rows of a 10k-row file) reports 3 updates — the
    * old versions as deletes, the new as inserts — not 20k file-level
    * changes; the exchanges it costs shuffle only the changed FILES'
    * rows. `rowLevel = false` skips the cancellation and reports the raw
    * file-level delta (cheaper; exact for append/delete-only histories).
    *
    * Both sides project to the `fromTag` schema (columns appended later
    * drop out; a removed column fails loudly). Deterministic given the
    * two tags — safe to re-run, safe to oracle. */
  def diff(spark: SparkSession, root: String, fromTag: String,
           toTag: Option[String] = None,
           rowLevel: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val fromSnap = readSnap(fs, rootPath, fromTag)
    val fromIds = fromSnap.files.map(sf => (sf.rel, sf.len, sf.mtime)).toSet
    val fromDvPaths = pinnedDvPaths(fs, rootPath, fromTag, fromSnap)
    val (toIds, insIdx, toDvPaths) = toTag match {
      case Some(t) =>
        val s2 = readSnap(fs, rootPath, t)
        val ids = s2.files.map(sf => (sf.rel, sf.len, sf.mtime)).toSet
        (ids, restrictedIndex(spark, root, t, Some(ids -- fromIds)),
          pinnedDvPaths(fs, rootPath, t, s2))
      case None =>
        val h = Z.harvest(spark, root)
        val keyed = h.fes.map(fe =>
          (Z.relPath(rootPath, fe.status.getPath), fe.status.getLen,
            fe.status.getModificationTime) -> fe)
        (keyed.map(_._1).toSet, new Z.StatsFileIndex(rootPath,
          keyed.collect { case (k, fe) if !fromIds.contains(k) => fe },
          h.schema.orElse(Some(fromSnap.schema))),
          graft.sinks.DeletionVectors.storeFiles(fs, rootPath))
    }
    val delIdx = restrictedIndex(spark, root, fromTag, Some(fromIds -- toIds))
    lazy val template = Z.readWith(spark, root,
      restrictedIndex(spark, root, fromTag, None))
    val cols = fromSnap.schema.fieldNames.toSeq ++
      fromSnap.files.headOption.map(sf => partsOf(sf.rel).map(_._1))
        .getOrElse(Nil)
    // each side reads through ITS OWN deletion-vector state: a row
    // already MoR-deleted at `fromTag` is not part of that state and must
    // not resurface as a delete; same for the to-side's vectors on added
    // files (an append followed by a deleteMoR)
    def readOr(idx: Z.StatsFileIndex, dvPaths: Seq[Path]): DataFrame =
      if (idx.fes.isEmpty) template.select(cols.map(col): _*).limit(0)
      else graft.sinks.DeletionVectors.applyStore(spark, root,
        Z.readWith(spark, root, idx), dvPaths).select(cols.map(col): _*)
    val d0 = readOr(delIdx, fromDvPaths)
    val i0 = readOr(insIdx, toDvPaths)
    // files common to both states never rescan — EXCEPT rows whose
    // positions entered the deletion vectors between the two states:
    // those are row-level deletes the file identities cannot see. The
    // delta is driver-small (bounded by maxPositions per deleteMoR and
    // the compaction cadence); the scan plans only the affected files
    // and semi-joins the broadcast (rel, pos) set. Vectors only GROW for
    // a surviving identity (compaction changes identities), so a
    // shrinking set is corruption and fails loud.
    def dvMap(paths: Seq[Path]): Map[String, Set[Long]] =
      if (paths.isEmpty) Map.empty
      else spark.read.parquet(paths.map(_.toString): _*)
        .select(col("file"), col("positions")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val fromDv = dvMap(fromDvPaths)
    val toDv = dvMap(toDvPaths)
    val commonIds = fromIds.intersect(toIds)
    val deltaPairs: Seq[(String, Long)] = commonIds.toSeq.sorted.flatMap {
      case (rel, _, _) =>
        val f = fromDv.getOrElse(rel, Set.empty)
        val t = toDv.getOrElse(rel, Set.empty)
        require((f -- t).isEmpty,
          s"diff: deletion vectors for '$rel' shrank between '$fromTag' " +
            s"and ${toTag.getOrElse("the live state")} — vectors only " +
            "grow for a surviving file; the store was mutated outside " +
            "the journaled paths")
        (t -- f).toSeq.sorted.map(rel -> _)
    }
    val dvDels: Option[DataFrame] =
      if (deltaPairs.isEmpty) None
      else {
        import spark.implicits._
        val deltaRels = deltaPairs.map(_._1).toSet
        val dIdx = restrictedIndex(spark, root, fromTag,
          Some(commonIds.filter(id => deltaRels(id._1))))
        val pairs = deltaPairs.toDF("__dv_file", "__dv_pos")
        Some(Z.readWith(spark, root, dIdx)
          .withColumn("__f",
            graft.sinks.DeletionVectors.lakeRelCol(spark, root))
          .withColumn("__p", col("_metadata.row_index"))
          .join(broadcast(pairs),
            col("__f") === col("__dv_file") &&
              col("__p") === col("__dv_pos"), "left_semi")
          .select(cols.map(col): _*))
      }
    val d0all = dvDels.fold(d0)(d0.unionByName(_))
    val (dels, inss) =
      if (rowLevel) (d0all.exceptAll(i0), i0.exceptAll(d0all))
      else (d0all, i0)
    dels.withColumn("_change_type", lit("delete"))
      .unionByName(inss.withColumn("_change_type", lit("insert")))
  }

  /** KEYED change feed (the Delta CDF `_change_type` vocabulary): the
    * row-level [[diff]] classified by a key column into
    * `insert` / `delete` / `update_preimage` / `update_postimage` — a
    * key present in both states with ANY changed column emits its before
    * and after rows, a key only in the old state a `delete`, only in the
    * new an `insert`. This is the shape a downstream CDC consumer
    * (replicating to a serving store, auditing a dimension) actually
    * wants; the raw diff cannot distinguish "key 7 changed" from "key 7
    * deleted + key 7' inserted".
    *
    * Scale shape: rides [[diff]]'s file-identity restriction — files
    * common to both states are NEVER read, so cost follows the CHANGE,
    * not the lake; the classification is one full-outer join on the key
    * over change rows only. Keys are assumed unique per state (the
    * dimension/CDC shape [[graft.sinks.LakeDelete.upsertLake]]
    * maintains) — duplicate keys raise rather than silently
    * cross-multiplying. */
  def diffKeyed(spark: SparkSession, root: String, keyCol: String,
                fromTag: String, toTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when,
      count => fcount, explode, array}
    val d = diff(spark, root, fromTag, toTag, rowLevel = true)
    val dataCols = d.columns.filterNot(_ == "_change_type").toSeq
    require(dataCols.exists(_.equalsIgnoreCase(keyCol)),
      s"key column '$keyCol' not in diff schema ${dataCols.mkString(",")}")
    val dels = d.filter(col("_change_type") === "delete").drop("_change_type")
    val inss = d.filter(col("_change_type") === "insert").drop("_change_type")
    def keyed(df: DataFrame, side: String) = {
      val g = df.groupBy(col(keyCol).as("__k"))
        .agg(fcount(lit(1)).as("__n"),
          org.apache.spark.sql.functions.first(struct(dataCols.map(col): _*))
            .as(side))
      g
    }
    val both = keyed(dels, "__pre").join(keyed(inss, "__post")
        .withColumnRenamed("__k", "__k2").withColumnRenamed("__n", "__n2"),
      col("__k") === col("__k2"), "full_outer")
    // fail-loud on duplicate keys: a silent cartesian would fabricate
    // update pairs that never happened
    val dup = both.filter(col("__n") > 1 || col("__n2") > 1).limit(1)
      .collect()
    require(dup.isEmpty,
      s"diffKeyed: key '$keyCol' is not unique within a state " +
        s"(example key: ${dup.headOption.map(_.get(0))}); use diff() for " +
        "multiset semantics")
    val classified = both.select(
      when(col("__k").isNotNull && col("__k2").isNotNull,
        array(
          struct(col("__pre").as("img"), lit("update_preimage").as("ct")),
          struct(col("__post").as("img"), lit("update_postimage").as("ct"))))
        .otherwise(when(col("__k").isNotNull,
          array(struct(col("__pre").as("img"), lit("delete").as("ct"))))
          .otherwise(
            array(struct(col("__post").as("img"), lit("insert").as("ct")))))
        .as("evs"))
      .select(explode(col("evs")).as("ev"))
    classified.select(
      dataCols.map(c => col(s"ev.img.$c").as(c)) :+
        col("ev.ct").as("_change_type"): _*)
  }

  final case class ExportReport(filesCopied: Int, bytesCopied: Long,
                                dvStoresCopied: Int)

  /** EXPORT a snapshot as a NEW INDEPENDENT LAKE at `dest` — the
    * reproducibility hand-off: a pinned training corpus becomes a
    * standalone lake no later mutation or `vacuum` of the source can
    * touch. Every pinned data file byte-copies (resolved live-or-trash)
    * to its ORIGINAL relative path, so layouts travel verbatim: a
    * bucketed export keeps its `_NNNNN` names + sidecar and stays
    * exchange-free-joinable; a windowed export keeps its `win=` dirs.
    * A pinned deletion-vector generation copies into the new lake's own
    * `_graft_dv/` — rel-path keys still match, so the export reads
    * exactly like the pinned snapshot and can be compacted later on its
    * own schedule. The constraints sidecar travels (current policy).
    * Manifests regenerate from the copied files (batched: one stats job
    * per layout), so the new lake plans zero-footer.
    *
    * Copies run driver-side on a small pool — right for the dimension/
    * corpus-snapshot sizes this targets; at 100 TB hand the (src, dst)
    * pair list to distcp and run only the manifest step here. */
  def export(spark: SparkSession, root: String, tag: String,
             dest: String): ExportReport = {
    val rootPath = new Path(root)
    val destPath = new Path(dest)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    val dfs = destPath.getFileSystem(conf)
    require(!dfs.exists(destPath) || dfs.listStatus(destPath).isEmpty,
      s"export destination $dest is not empty")
    val snap = readSnap(fs, rootPath, tag)
    val copies: Seq[(Path, Path)] =
      snap.files.map { sf =>
        (resolve(fs, rootPath, tag, sf.rel, sf.len, sf.mtime).getPath,
          new Path(destPath, sf.rel))
      } ++ pinnedDvPaths(fs, rootPath, tag, snap).map { p =>
        (p, new Path(new Path(destPath,
          graft.sinks.DeletionVectors.DvDirName), p.getName))
      }
    val bytes = graft.DriverPool.run(8)(copies.map { case (src, dst) => () =>
      dfs.mkdirs(dst.getParent)
      require(org.apache.hadoop.fs.FileUtil.copy(
        fs, src, dfs, dst, false, conf),
        s"export failed copying $src to $dst")
      fs.getFileStatus(src).getLen
    }).sum
    // layout + governance sidecars travel
    Seq(Z.BucketsName, graft.sinks.LakeConstraints.SidecarName)
      .foreach { name =>
        val s = new Path(rootPath, name)
        if (fs.exists(s))
          require(org.apache.hadoop.fs.FileUtil.copy(
            fs, s, dfs, new Path(destPath, name), false, conf),
            s"export failed copying sidecar $name")
      }
    Z.repairDirManifests(spark,
      snap.files.map(sf => new Path(destPath, sf.rel).getParent).distinct)
    ExportReport(snap.files.size, bytes, snap.dv.size)
  }

  final case class RestoreReport(filesKept: Int, filesRestored: Int,
                                 filesDropped: Int, dvStoresRestored: Int,
                                 dvStoresDropped: Int)

  /** RESTORE the live lake to snapshot `tag` IN PLACE — Delta's
    * `RESTORE TABLE ... TO VERSION AS OF`, the rollback verb: after a bad
    * upsert, an over-eager retention delete, or a botched backfill, the
    * table returns to the exact pinned state, and every downstream reader
    * (SQL views, streaming tails after their own reset, metadata
    * aggregates) sees it without re-pointing anywhere.
    *
    * Mechanics — one journaled optimistic-commit mutation, like every
    * other lake write:
    *  - pinned files still live with a matching `(len, mtime)` identity
    *    are KEPT untouched (the common case: a restore right after a bad
    *    mutation copies only what that mutation displaced — cost follows
    *    the damage, not the table);
    *  - pinned files now resolving to the trash are COPIED back to their
    *    original relative paths (copy, not move: other snapshots — and
    *    `tag` itself — keep resolving through the trash bytes, which stay
    *    exactly where their identities name them);
    *  - live data files NOT in the pinned set drop through the journal's
    *    retire path, so snapshots taken AFTER `tag` keep reading their
    *    own pinned state (the files retire to trash, not die);
    *  - the pinned DELETION-VECTOR store generation is restored the same
    *    way (a snapshot taken with vectors live rolls back to exactly
    *    those vectors; one taken without rolls the store away), so the
    *    restored read is row-identical to `readSnapshot(tag)`;
    *  - the read-set is the FULL data-file identity set: any concurrent
    *    append/mutation between triage and commit is a conflict and
    *    restages (a restore must produce exactly the pinned state, so
    *    even an addition — invisible to a per-file check — conflicts).
    *
    * Crash-safe via the shared journal (old state or new, never half);
    * constraints and bucket-layout sidecars are NOT versioned by
    * snapshots and stay as they are (current policy, same as [[export]]).
    * Raises — never partial — when a pinned file was vacuumed away. */
  def restore(spark: SparkSession, root: String, tag: String): RestoreReport = {
    val rootPath = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    graft.sinks.LakeDelete.recover(spark, root)
    graft.sinks.LakeDelete.withConflictRetry("RESTORE", fs, rootPath) {
      (txnDir, txnRel) =>
        restoreAttempt(spark, root, tag, txnDir, txnRel)
    }
  }

  /** GROUP restore: roll N lakes back to one group tag ([[snapshotTables]])
    * with every writer lock held across the whole operation — no mutation
    * can interleave between any two per-table restores, so the group
    * lands as the consistent cross-table state the tag pinned. Before ANY
    * table mutates, every table is prechecked (healed, tag present, every
    * pinned data/DV file resolvable live-or-trash): the failures a group
    * restore can actually hit — a missing tag, a vacuumed file — surface
    * with ZERO tables touched. Per-table restores are individually
    * journal-atomic; locks acquire in sorted-root order (deadlock-free,
    * reentrant under the per-table machinery's own acquisitions). */
  def restoreTables(spark: SparkSession, roots: Seq[String],
                    tag: String, indexRoots: Seq[String] = Nil)
      : Map[String, RestoreReport] = {
    val sorted = roots.distinct.sorted
    val idxSorted = indexRoots.distinct.sorted
    require(sorted.nonEmpty, "restoreTables needs at least one root")
    val conf = spark.sessionState.newHadoopConf()
    def go(i: Int): Map[String, RestoreReport] =
      if (i == sorted.length) {
        sorted.foreach { r =>
          val rp = new Path(r)
          val fs = rp.getFileSystem(conf)
          graft.sinks.LakeDelete.recoverUnlocked(spark, r)
          val snap = readSnap(fs, rp, tag)
          (snap.files.map(sf => (sf.rel, sf.len, sf.mtime)) ++ snap.dv)
            .foreach { case (rel, len, mtime) =>
              resolve(fs, rp, tag, rel, len, mtime); ()
            }
        }
        // index pins prechecked with the lakes: a vacuumed-away pinned
        // generation surfaces here with ZERO tables or indexes touched
        idxSorted.foreach(r =>
          graft.operators.IndexSnapshots.precheck(spark, r, tag))
        // STAGE every index restore (the IO-heavy, fail-prone copies)
        // BEFORE any table or pointer mutates — an IO failure here
        // surfaces with zero state changed (ADVICE r12); what remains
        // after the table restores is metadata-sized publishes only
        val staged = idxSorted.map(r =>
          r -> graft.operators.IndexSnapshots.stageRestore(spark, r, tag))
        val reports = sorted.map(r => r -> restore(spark, r, tag)).toMap
        // reinstate the pinned index generations — after the group
        // restore a registered ANN/BM25 index answers for the restored
        // corpus again instead of serving the rolled-back-away state
        staged.foreach { case (r, st) =>
          graft.operators.IndexSnapshots.publishStaged(spark, r, st); ()
        }
        reports
      } else {
        val p = new Path(sorted(i))
        graft.sinks.LakeDelete.withWriterLock(p.getFileSystem(conf), p) {
          go(i + 1)
        }
      }
    go(0)
  }

  private def restoreAttempt(spark: SparkSession, root: String, tag: String,
                             txnDir: Path, txnRel: String)
      : Either[Seq[String], RestoreReport] = {
    import graft.sinks.{DeletionVectors, LakeDelete}
    val rootPath = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    val snap = readSnap(fs, rootPath, tag)
    val pinnedIds = snap.files.map(sf => (sf.rel, sf.len, sf.mtime)).toSet

    // triage: the FULL live identity set (also the optimistic read-set)
    val before = Z.dataFileIdentities(fs, rootPath).toSet
    val keptIds = before.intersect(pinnedIds)
    val dropRels = (before -- pinnedIds).toSeq.map(_._1).sorted
    val missing = snap.files.filterNot(sf =>
      keptIds.contains((sf.rel, sf.len, sf.mtime)))

    // DV store generation: keep identity-matched stores, drop the rest,
    // resurrect pinned stores that have since retired
    def dvIdentity(p: Path): (String, Long, Long) = {
      val st = fs.getFileStatus(p)
      (Z.relPath(rootPath, p), st.getLen, st.getModificationTime)
    }
    val curDv = DeletionVectors.storeFiles(fs, rootPath)
    val curDvIds = curDv.map(dvIdentity).toSet
    val pinnedDvIds = snap.dv.toSet
    val dvDropRels = (curDvIds -- pinnedDvIds).toSeq.map(_._1).sorted
    val dvMissing = snap.dv.filterNot(curDvIds.contains)

    if (dropRels.isEmpty && missing.isEmpty &&
      dvDropRels.isEmpty && dvMissing.isEmpty)
      return Right(RestoreReport(keptIds.size, 0, 0, 0, 0))

    // stage resurrected files: copy trash → txn dir at the original rel
    // (copy, not move — other snapshots keep resolving the trash bytes).
    // Copies are independent driver-side I/O over distinct targets
    val toStage = missing.map(sf => (sf.rel, sf.len, sf.mtime)) ++ dvMissing
    def stageOne(rel: String, len: Long, mtime: Long): Unit = {
      val src = resolve(fs, rootPath, tag, rel, len, mtime).getPath
      val dst = new Path(txnDir, rel)
      fs.mkdirs(dst.getParent)
      require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
        false, true, conf), s"restore failed copying $src to $dst")
    }
    graft.DriverPool.run(8)(toStage.map { case (rel, len, mtime) =>
      () => stageOne(rel, len, mtime) })

    LakeDelete.stagedHook.get()()
    LakeDelete.commitStaged(spark, fs, rootPath, txnRel,
      dropRels ++ dvDropRels,
      missing.map(_.rel) ++ dvMissing.map(_._1), None,
      () => {
        // full-set check: an APPEND between triage and commit must
        // conflict too — the restored state must be exactly the pin
        val dataMoved =
          if (Z.dataFileIdentities(fs, rootPath).toSet != before)
            Seq(s"data file set changed under RESTORE at $root")
          else Nil
        val dvMoved =
          if (DeletionVectors.storeFiles(fs, rootPath)
            .map(dvIdentity).toSet != curDvIds)
            Seq(s"deletion-vector store changed under RESTORE at $root")
          else Nil
        dataMoved ++ dvMoved
      }) match {
      case Left(c) => Left(c)
      case Right(()) => Right(RestoreReport(keptIds.size, missing.size,
        dropRels.size, dvMissing.size, dvDropRels.size))
    }
  }

  // ---- the retire path (called by the lake's journaled mutations) --------

  /** refs cache: lake root URI → (snapshot-dir signature, refs). The
    * signature is the sidecar listing `(name, len, mtime)`: sidecars are
    * immutable (published by tmp+rename, removed only whole by vacuum),
    * so an unchanged listing means byte-identical refs — a 5-minute merge
    * cadence over a snapshotted 10^5-file lake stops paying
    * O(snapshots × files) JSON parsing per batch (r9 verdict #6). */
  private val refsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Set[(String, Long, Long)])]()

  /** Every `(rel, len, mtime)` some snapshot references — loaded once per
    * mutation so per-file retire decisions are a set lookup; cached
    * across mutations keyed by the snapshot-dir listing. */
  private[graft] def snapshotRefs(spark: SparkSession,
                                  root: String): Set[(String, Long, Long)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val d = snapDir(rootPath)
    val sig =
      if (!fs.exists(d)) ""
      else fs.listStatus(d).toSeq
        .filter(st => st.getPath.getName.endsWith(".json") &&
          !st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:" +
          s"${st.getModificationTime}")
        .mkString("\n")
    val key = rootPath.toUri.toString
    Option(refsCache.get(key)).filter(_._1 == sig).map(_._2).getOrElse {
      val refs = listSnapshots(spark, root).flatMap { tag =>
        val s = readSnap(fs, rootPath, tag)
        // pinned DV store files are references too: a deleteMoR/compact
        // that drops a store generation must retire it to trash, not
        // delete it, while any snapshot still resolves through it
        s.files.map(sf => (sf.rel, sf.len, sf.mtime)) ++ s.dv
      }.toSet
      refsCache.put(key, (sig, refs))
      refs
    }
  }

  /** Retire one live data file: MOVE to the trash path its identity names
    * when any snapshot references it, plain delete otherwise. Idempotent
    * against replays: an already-retired file (same identity present in
    * trash) is deleted rather than failed on the rename. */
  private[graft] def retire(fs: FileSystem, root: Path, st: FileStatus,
                            refs: Set[(String, Long, Long)]): Unit =
    retireAs(fs, root, st, Z.relPath(root, st.getPath), refs)

  /** [[retire]] for a file that was MOVED ASIDE before retiring (e.g.
    * compaction's rename-aside swap): identity — and the trash path
    * snapshot reads resolve — comes from `origRel`, the lake-relative
    * path the file lived at when it was snapshotted; `st` is where it
    * sits now. Rename preserves length and mtime, so the identity key
    * still matches the snapshot entry. */
  private[graft] def retireAs(fs: FileSystem, root: Path, st: FileStatus,
                              origRel: String,
                              refs: Set[(String, Long, Long)]): Unit = {
    val key = (origRel, st.getLen, st.getModificationTime)
    if (refs.contains(key)) {
      val dst = trashPath(root, origRel, st.getLen, st.getModificationTime)
      if (fs.exists(dst)) { fs.delete(st.getPath, false); () }
      else {
        fs.mkdirs(dst.getParent)
        require(fs.rename(st.getPath, dst),
          s"could not retire $origRel to $dst")
      }
    } else { fs.delete(st.getPath, false); () }
  }

  final case class VacuumReport(snapshotsDropped: Seq[String],
                                trashFilesDeleted: Int)

  /** Keep only `keep` snapshots; drop the rest and every trash file no
    * surviving snapshot references. `keep = Nil` drops all snapshots and
    * empties the trash. Unknown names in `keep` are an error (a typo here
    * would silently unpin data). */
  def vacuum(spark: SparkSession, root: String,
             keep: Seq[String]): VacuumReport = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    // vacuum deletes trash bytes a concurrent mutation may be retiring
    // into: same single-writer lock as the journaled paths
    graft.sinks.LakeDelete.withWriterLock(fs, rootPath) {
    val have = listSnapshots(spark, root)
    val missing = keep.filterNot(have.contains)
    require(missing.isEmpty, s"cannot keep unknown snapshot(s): $missing")
    val drop = have.filterNot(keep.contains)
    drop.foreach { tag =>
      fs.delete(snapPath(rootPath, tag), false); ()
    }
    val refs = snapshotRefs(spark, root)
    val trashRoot = new Path(rootPath, TrashDirName)
    var deleted = 0
    if (fs.exists(trashRoot)) {
      fs.listStatus(trashRoot).toSeq.filter(_.isDirectory).foreach { vdir =>
        // dir name is "<mtime>-<len>"; files inside sit at their original
        // relative paths — walk and match identity against surviving refs
        vdir.getPath.getName.split("-", 2) match {
          case Array(m, l) if m.forall(_.isDigit) && l.forall(_.isDigit) =>
            val (mtime, len) = (m.toLong, l.toLong)
            def walk(d: Path): Unit =
              fs.listStatus(d).foreach { s =>
                if (s.isDirectory) walk(s.getPath)
                else {
                  val rel = Z.relPath(vdir.getPath, s.getPath)
                  if (!refs.contains((rel, len, mtime))) {
                    fs.delete(s.getPath, false); deleted += 1
                  }
                }
              }
            walk(vdir.getPath)
            // prune now-empty version dirs (and their empty subdirs)
            def empty(d: Path): Boolean = fs.listStatus(d).forall(s =>
              s.isDirectory && empty(s.getPath))
            if (empty(vdir.getPath)) { fs.delete(vdir.getPath, true); () }
          case _ => // foreign dir under trash: leave it
        }
      }
      if (fs.exists(trashRoot) && fs.listStatus(trashRoot).isEmpty) {
        fs.delete(trashRoot, true); ()
      }
    }
    VacuumReport(drop, deleted)
    }
  }
}
