package graft.sinks

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ZLake

/** MERGE-ON-READ deletes — deletion vectors (the Delta DV / Iceberg v2
  * position-delete shape): instead of rewriting every boundary file the
  * way the copy-on-write path does, a DELETE records the POSITIONS of
  * matching rows in per-file vectors under `_graft_dv/`, and reads merge
  * them back out. This is the fast path for exactly the workload CoW is
  * worst at — scattered point deletes (GDPR erasure: a few thousand rows
  * across thousands of files) where CoW would rewrite terabytes to drop
  * kilobytes. Retention sweeps that empty whole envelopes should keep
  * using [[LakeDelete.deleteFromLake]]; `maxPositions` fails fast toward
  * it when a predicate turns out to be a bulk delete.
  *
  * Mechanics:
  *  - positions come from the parquet reader's own `_metadata.row_index`
  *    (stable physical row position), discovered with ONE column-pruned
  *    scan of the envelope-positive files only;
  *  - the store is a handful of parquet files `(file, positions)` keyed
  *    by the data file's LAKE-RELATIVE PATH (the same key Delta/Iceberg
  *    position deletes use). Relative path, not file name, is
  *    load-bearing: an externally written Hive-layout lake can carry the
  *    SAME file name under several partition dirs (one `partitionBy` job
  *    emits `part-00000-<jobUUID>...` in every dir a task touches), and
  *    a name-keyed vector would silently delete those positions in every
  *    same-named file. A new delete UNIONS with existing vectors and
  *    swaps the store via
  *    the SAME staged-files + journal + optimistic-commit protocol as
  *    every other mutation (crash at any point: old vectors or new,
  *    never half);
  *  - reads ([[ZLake.read]]) apply the store as one broadcast ANTI JOIN
  *    on (file name, row position) — cost proportional to the vectors,
  *    zero when none exist;
  *  - [[compact]] MATERIALIZES the vectors (rewrites only DV-bearing
  *    files without their deleted rows, journal-atomic) and clears the
  *    store — run it on whatever cadence bounds read overhead, exactly
  *    like Delta's `REORG TABLE ... APPLY (PURGE)`.
  *
  * v1 GUARDS (fail-loud, documented): while vectors are present, the
  * CoW mutations (delete/update/upsert/rewrite/compact), snapshots, the
  * SQL `USING zlake` relation, metadata-only aggregates
  * ([[graft.plans.ManifestAggs]]) and the streaming tail REFUSE the lake
  * — each would otherwise serve or resurrect deleted rows from manifest
  * stats or raw file reads. `compact` restores every capability.
  * Appends compose freely (new files have no vectors). */
object DeletionVectors {

  val DvDirName = "_graft_dv"

  final case class MoRReport(filesTotal: Int, filesTouched: Int,
                             rowsDeleted: Long, storeFiles: Int)

  /** Does the lake carry deletion vectors? (One listing; the guard every
    * DV-incompatible path calls.) */
  def present(fs: FileSystem, root: Path): Boolean = {
    val d = new Path(root, DvDirName)
    try fs.exists(d) && ZLake.dataFilesIn(fs, d).nonEmpty
    catch { case _: java.io.FileNotFoundException => false }
  }

  def present(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root)
    present(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private[graft] def requireAbsent(fs: FileSystem, root: Path,
                                   what: String): Unit =
    require(!present(fs, root),
      s"$what: $root carries merge-on-read deletion vectors — run " +
        "DeletionVectors.compact(root) to materialize them first")

  /** Lake-relative path of each scanned row's source file, derived from
    * `_metadata.file_path`: everything after the first occurrence of
    * "<qualified-root-path>/" in the URI string. Both the position scan
    * and the read-side anti-join key on this, so the two sides always
    * agree byte-for-byte. */
  private[graft] def relPathCol(spark: SparkSession, root: String): Column = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val marker =
      fs.makeQualified(rootPath).toUri.getPath.stripSuffix("/") + "/"
    val esc = marker.replace("\\", "\\\\").replace("'", "\\'")
    expr(s"substring(_metadata.file_path, " +
      s"locate('$esc', _metadata.file_path) + ${marker.length})")
  }

  private[graft] def storeFiles(fs: FileSystem, root: Path): Seq[Path] = {
    val d = new Path(root, DvDirName)
    if (!fs.exists(d)) Nil
    else ZLake.dataFilesIn(fs, d).map(_.getPath)
  }

  /** Write `vectors` as ONE store file staged under `txnDir/_graft_dv/`;
    * returns its root-relative path for the journal's add lane. */
  private[graft] def stageStore(spark: SparkSession, fs: FileSystem,
                                txnDir: Path,
                                vectors: Seq[(String, Array[Long])]): String = {
    import spark.implicits._
    val staged = new Path(txnDir, DvDirName)
    val storeName = s"store-${java.util.UUID.randomUUID()}.parquet"
    val tmpOut = new Path(staged, ".out")
    vectors.toDF("file", "positions").coalesce(1)
      .write.mode("overwrite").parquet(tmpOut.toString)
    val part = ZLake.dataFilesIn(fs, tmpOut).headOption
      .getOrElse(throw new IllegalStateException("empty DV store write"))
    fs.mkdirs(staged)
    require(fs.rename(part.getPath, new Path(staged, storeName)),
      s"could not stage DV store $storeName")
    fs.delete(tmpOut, true)
    s"$DvDirName/$storeName"
  }

  /** [[relPathCol]] with a retired file's trash prefix stripped: a
    * snapshot read can resolve a pinned file under
    * `_graft_trash/<mtime>-<len>/<rel>`, but its vectors key the ORIGINAL
    * rel — the identity the file had when the positions were recorded. */
  private[graft] def lakeRelCol(spark: SparkSession, root: String): Column =
    regexp_replace(relPathCol(spark, root),
      "^" + graft.sources.Snapshots.TrashDirName + "/[^/]+/", "")

  /** Merge the vectors in the given STORE FILES out of `df` (which must
    * carry files of the lake at `root`): one broadcast anti-join keyed on
    * (lake-relative path, physical row position). [[applyTo]] passes the
    * live store; a snapshot read passes its PINNED store generation. */
  private[graft] def applyStore(spark: SparkSession, root: String,
                                df: DataFrame, store: Seq[Path]): DataFrame =
    if (store.isEmpty) df
    else {
      val dv = spark.read.parquet(store.map(_.toString): _*)
        .select(col("file").as("__dv_file"),
          explode(col("positions")).as("__dv_pos"))
      val out = df
        .withColumn("__f", lakeRelCol(spark, root))
        .withColumn("__p", col("_metadata.row_index"))
        .join(broadcast(dv),
          col("__f") === col("__dv_file") && col("__p") === col("__dv_pos"),
          "left_anti")
      out.select(df.columns.map(col).toSeq: _*)
    }

  /** Merge the lake's deletion vectors out of `df` (which must carry the
    * lake's files — [[ZLake.read]] calls this). No-op without vectors. */
  def applyTo(spark: SparkSession, root: String, df: DataFrame): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    applyStore(spark, root, df, storeFiles(fs, rootPath))
  }

  /** Merge-on-read DELETE: record the positions of rows matching
    * `predicate` instead of rewriting files. Envelope triage first —
    * only files that can hold a match are scanned (column-pruned, with
    * the existing vectors already merged out so re-deleting is a
    * counted no-op). Optimistic commit with the scanned files as the
    * read-set: positions are only valid against the exact bytes triage
    * saw. */
  def deleteMoR(spark: SparkSession, root: String, predicate: Column,
                maxPositions: Int = 1000000): MoRReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    LakeDelete.recover(spark, root)
    LakeDelete.withConflictRetry("DELETE(MoR)", fs, rootPath) {
      (txnDir, txnRel) =>
        attempt(spark, root, predicate, maxPositions, txnDir, txnRel)
    }
  }

  private def attempt(spark: SparkSession, root: String, predicate: Column,
                      maxPositions: Int, txnDir: Path, txnRel: String)
      : Either[Seq[String], MoRReport] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)

    val df = ZLake.read(spark, root) // existing vectors already merged out
    val idx = ZLake.index(spark, root)
    val analyzed = df.filter(predicate).queryExecution.analyzed
    val cond = analyzed.collectFirst { case Filter(c, _) => c }.getOrElse(
      throw new IllegalArgumentException(
        s"predicate did not analyze to a filter: $predicate"))
    require(cond.deterministic, "delete predicate must be deterministic")
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
    val positive = idx.fes.filter(fe => ZLake.mayMatch(forFile(fe), fe))
    if (positive.isEmpty)
      return Right(MoRReport(idx.fes.size, 0, 0L,
        storeFiles(fs, rootPath).size))

    // one column-pruned scan of the positive files: (file name, position)
    // of every matching row, with existing vectors merged out so already-
    // deleted rows are not re-counted
    val schema = df.schema
    val oldStorePaths = storeFiles(fs, rootPath)
    val hits =
      try {
        val keyed = spark.read.schema(schema).option("basePath", root)
          .parquet(positive.map(_.status.getPath.toString): _*)
          .withColumn("__f", relPathCol(spark, root))
          .withColumn("__p", col("_metadata.row_index"))
        val unDeleted =
          if (oldStorePaths.isEmpty) keyed
          else {
            val dv = spark.read
              .parquet(oldStorePaths.map(_.toString): _*)
              .select(col("file").as("__dv_file"),
                explode(col("positions")).as("__dv_pos"))
            keyed.join(broadcast(dv),
              col("__f") === col("__dv_file") &&
                col("__p") === col("__dv_pos"), "left_anti")
          }
        unDeleted
          .filter(coalesce(predicate, lit(false)))
          .select(col("__f").as("file"), col("__p").as("pos"))
          .limit(maxPositions + 1)
          .collect()
      } catch {
        case NonFatal(e) if LakeDelete.isConcurrentFileLoss(e) =>
          return Left(Seq(e.getMessage))
      }
    require(hits.length <= maxPositions,
      s"merge-on-read delete matched more than $maxPositions rows — " +
        "this is a bulk delete; use LakeDelete.deleteFromLake (copy-on-" +
        "write) instead")
    if (hits.isEmpty)
      return Right(MoRReport(idx.fes.size, 0, 0L,
        storeFiles(fs, rootPath).size))

    val fresh: Map[String, Array[Long]] = hits
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, ps) =>
        f -> ps.map(_._2).distinct.sorted
      }

    // union with the existing store (driver-side: the store is bounded by
    // maxPositions-per-delete and compaction cadence)
    val oldStore = oldStorePaths
    val existing: Map[String, Array[Long]] =
      if (oldStore.isEmpty) Map.empty
      else spark.read.parquet(oldStore.map(_.toString): _*)
        .select(col("file"), col("positions"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[Long](1).toArray)
        .toMap
    val merged: Seq[(String, Array[Long])] =
      (existing.keySet ++ fresh.keySet).toSeq.sorted.map { f =>
        f -> (existing.getOrElse(f, Array.empty[Long]) ++
          fresh.getOrElse(f, Array.empty[Long])).distinct.sorted
      }
    val newRows = fresh.map { case (f, ps) =>
      (ps.toSet -- existing.getOrElse(f, Array.empty[Long]).toSet).size
    }.sum

    // stage the consolidated store, commit via the shared journal
    val storeRel = stageStore(spark, fs, txnDir, merged)

    val dropRels = oldStore.map(ZLake.relPath(rootPath, _))
    LakeDelete.stagedHook.get()()
    // read-set: the scanned data files (positions bind to their exact
    // bytes) plus the store files this commit replaces
    val dvFes = oldStore.map(p => fs.getFileStatus(p))
    LakeDelete.commitStaged(spark, fs, rootPath, txnRel, dropRels,
      Seq(storeRel), None,
      () => LakeDelete.changedIdentities(fs,
        positive.map(_.status) ++ dvFes)) match {
      case Left(c) => Left(c)
      case Right(()) => Right(MoRReport(idx.fes.size, fresh.size,
        newRows.toLong, 1))
    }
  }

  final case class CompactReport(filesRewritten: Int, rowsDropped: Long)

  /** MATERIALIZE the vectors: rewrite only the DV-bearing files without
    * their deleted rows (one staged job, same journal + optimistic
    * commit), drop the store — the lake returns to plain copy-on-write
    * state and every guarded capability (snapshots, SQL relation,
    * metadata aggregates, tailing, CoW mutations) reopens. */
  def compact(spark: SparkSession, root: String): CompactReport = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    // deleteMoR composes with a BUCKETED lake (positions touch no file, so
    // the co-location contract holds and reads stay exchange-free), but
    // materializing pools kept rows across files under fresh names —
    // that would silently break bucketing, so it refuses; vectors simply
    // stay until the lake is rewritten via bucketedLakeWrite
    LakeDelete.requireNotBucketed(fs, rootPath, "COMPACT(DV)")
    LakeDelete.recover(spark, root)
    LakeDelete.withConflictRetry("COMPACT(DV)", fs, rootPath) {
      (txnDir, txnRel) => compactAttempt(spark, root, txnDir, txnRel)
    }
  }

  private def compactAttempt(spark: SparkSession, root: String,
                             txnDir: Path, txnRel: String)
      : Either[Seq[String], CompactReport] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val store = storeFiles(fs, rootPath)
    if (store.isEmpty) return Right(CompactReport(0, 0L))
    val dvRows = spark.read.parquet(store.map(_.toString): _*)
      .select(col("file"), col("positions")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val idx = ZLake.index(spark, root)
    def rel(p: Path): String = ZLake.relPath(rootPath, p)
    val touched = idx.fes.filter(fe =>
      dvRows.get(rel(fe.status.getPath)).exists(_.nonEmpty))
    val partCols = idx.partitionCols

    var adds = Seq.empty[String]
    if (touched.nonEmpty) {
      val outDir = new Path(txnDir, ".out")
      try {
        val df = ZLake.read(spark, root) // vectors applied
        val schema = df.schema
        val kept = DeletionVectors.applyTo(spark, root,
          spark.read.schema(schema).option("basePath", root)
            .parquet(touched.map(_.status.getPath.toString): _*))
        val w = kept.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(outDir.toString)
      } catch {
        case NonFatal(e) if LakeDelete.isConcurrentFileLoss(e) =>
          return Left(Seq(e.getMessage))
      }
      adds = LakeDelete.stageRenamed(fs, outDir, txnDir, "dvcompact")
    }

    val dvStatuses = store.map(fs.getFileStatus)
    val dropRels = touched.map(fe => rel(fe.status.getPath)) ++
      store.map(rel)
    LakeDelete.stagedHook.get()()
    LakeDelete.commitStaged(spark, fs, rootPath, txnRel, dropRels, adds,
      None,
      () => LakeDelete.changedIdentities(fs,
        touched.map(_.status) ++ dvStatuses)) match {
      case Left(c) => Left(c)
      case Right(()) =>
        // the store dir itself (now empty) retires with the commit
        val d = new Path(rootPath, DvDirName)
        if (fs.exists(d) && fs.listStatus(d).isEmpty) {
          fs.delete(d, true); ()
        }
        Right(CompactReport(touched.size,
          dvRows.values.map(_.length.toLong).sum))
    }
  }
}
