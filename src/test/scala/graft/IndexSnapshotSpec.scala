package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexSnapshots, Retrieval, Similarity}
import graft.sources.Snapshots

/** Derived-index GENERATION snapshots (VERDICT r11 #4): pin → mutate
  * (append + compact) → restore must serve the pinned probe answers
  * again; vacuum must keep pinned versions restorable; a group restore
  * with indexRoots reinstates index state consistent with the lakes. */
class IndexSnapshotSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(r: Range): DataFrame = r.map(i =>
    i.toLong -> s"alpha w${i % 13} ${if (i % 3 == 0) "beta" else "gamma"}")
    .toDF("doc_id", "text")
  private def vecs(r: Range): DataFrame = r.map { i =>
    (i.toLong, Array.tabulate(8)(d => ((i % 4) * 10 + d + (i % 7)).toFloat))
  }.toDF("vec_id", "embedding")
  private def tmp(p: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-$p").toString + "/idx"
  private val q = Seq("alpha", "beta")

  test("BM25: pin → append + compact → restore serves the pinned answers; " +
      "stats sidecar rolls back too") {
    val path = tmp("isnap-bm25")
    Retrieval.writeBm25Index(docs(1 to 60), col("doc_id"), col("text"),
      path, 8)
    val pinnedAnswers =
      Retrieval.searchBm25Index(spark, path, q, 30).collect().toSeq
    IndexSnapshots.snapshot(spark, path, "pin")
    Retrieval.appendBm25Index(docs(61 to 120), col("doc_id"), col("text"),
      path)
    Retrieval.compactBm25Index(spark, path)
    assert(Retrieval.searchBm25Index(spark, path, q, 30).collect().toSeq
      != pinnedAnswers, "mutations must be visible before the restore")
    val rep = IndexSnapshots.restore(spark, path, "pin")
    assert(rep.filesRestored > 0)
    assert(Retrieval.searchBm25Index(spark, path, q, 30).collect().toSeq
      == pinnedAnswers,
      "a restored generation must serve exactly the pinned answers")
  }

  test("BM25: restore is idempotent (fast path) and round-trips forward") {
    val path = tmp("isnap-bm25-idem")
    Retrieval.writeBm25Index(docs(1 to 60), col("doc_id"), col("text"),
      path, 8)
    IndexSnapshots.snapshot(spark, path, "pin")
    assert(IndexSnapshots.restore(spark, path, "pin").filesRestored == 0,
      "restoring an unmutated pin must be a no-op")
    Retrieval.appendBm25Index(docs(61 to 120), col("doc_id"), col("text"),
      path)
    IndexSnapshots.snapshot(spark, path, "later")
    val laterAnswers =
      Retrieval.searchBm25Index(spark, path, q, 30).collect().toSeq
    IndexSnapshots.restore(spark, path, "pin")
    IndexSnapshots.restore(spark, path, "later")
    assert(Retrieval.searchBm25Index(spark, path, q, 30).collect().toSeq
      == laterAnswers, "restore forward to a later pin must work too")
  }

  test("IVF: pin → append + compact → restore serves the pinned cells; " +
      "vacuum keeps the pinned version restorable") {
    val path = tmp("isnap-ivf")
    val base = vecs(0 until 80)
    Similarity.writeIvfIndex(base, col("vec_id"), col("embedding"),
      base.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), path)
    IndexSnapshots.snapshot(spark, path, "pin")
    Similarity.appendIvfIndex(vecs(80 until 120), col("vec_id"),
      col("embedding"), path)
    Similarity.compactIvfIndex(spark, path)
    // vacuum must NOT delete the pinned original layout
    Similarity.vacuumIvfIndex(spark, path)
    val rep = IndexSnapshots.restore(spark, path, "pin")
    assert(rep.filesRestored > 0)
    val ids = spark.read.parquet(Similarity.assignDir(spark, path))
      .select("neighbor_id").as[Long].collect().toSet
    assert(ids == (0L until 80L).toSet,
      "the restored generation must hold exactly the pinned vectors")
  }

  test("IVF: a full rebuild (new centroids) makes the pin refuse loudly") {
    val path = tmp("isnap-ivf-rebuild")
    val base = vecs(0 until 80)
    Similarity.writeIvfIndex(base, col("vec_id"), col("embedding"),
      base.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), path)
    Similarity.appendIvfIndex(vecs(80 until 100), col("vec_id"),
      col("embedding"), path)
    Similarity.compactIvfIndex(spark, path)
    assert(Similarity.assignDir(spark, path).endsWith("assign-v1"))
    IndexSnapshots.snapshot(spark, path, "pin")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = new org.apache.hadoop.fs.Path(path, "assign-v1")
    val pinnedV1 = graft.sources.ZLake.dataFileIdentities(fs, v1)
    Similarity.writeIvfIndex(vecs(0 until 40), col("vec_id"),
      col("embedding"), vecs(0 until 40).filter(col("vec_id") < 4),
      col("vec_id"), col("embedding"), path)
    // the rebuild resets the pointer to `assign`; the next compaction must
    // publish a version no existing dir uses, never reuse the pinned one
    Similarity.appendIvfIndex(vecs(40 until 60), col("vec_id"),
      col("embedding"), path)
    Similarity.compactIvfIndex(spark, path)
    assert(graft.sources.ZLake.dataFileIdentities(fs, v1) == pinnedV1,
      "the pinned assign-v1 must keep every (rel, len, mtime) it was " +
        "pinned with")
    assert(Similarity.assignDir(spark, path).endsWith("assign-v2"))
    val e = intercept[IllegalArgumentException] {
      IndexSnapshots.restore(spark, path, "pin")
    }
    assert(e.getMessage.contains("companion"))
  }

  test("a pre-r13 (format-1) pin with version-dir-relative rels restores") {
    // ADVICE r13: r13 made pin rels ROOT-relative, which silently
    // invalidated every pin written before it (their rels were relative
    // to the pinned version dir). readPin now rewrites format-1 rels on
    // load — simulate an old pin by downgrading a fresh one in place.
    val path = tmp("isnap-v1pin")
    val emb = vecs(0 until 60)
    Similarity.writeIvfIndex(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), path)
    def ids() = spark.read.parquet(Similarity.assignDir(spark, path))
      .select("neighbor_id").as[Long].collect().toSet
    val pinnedIds = ids()
    IndexSnapshots.snapshot(spark, path, "old")
    // downgrade the pin JSON to format 1: strip the version-dir prefix
    // from every file rel and drop the format marker
    val pinFile = java.nio.file.Paths.get(path,
      IndexSnapshots.SnapDirName, "old.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(java.nio.file.Files.readAllBytes(pinFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val ptr = node.get("pointer").asText
    assert(ptr.nonEmpty, "IVF pins record a version-dir pointer")
    node.put("version", 1)
    val files = node.path("files")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val oldFiles = om.createObjectNode()
    files.fields().forEachRemaining { e =>
      assert(e.getKey.startsWith(s"$ptr/"), s"unexpected rel ${e.getKey}")
      oldFiles.set(e.getKey.stripPrefix(s"$ptr/"), e.getValue); ()
    }
    node.set("files", oldFiles)
    java.nio.file.Files.write(pinFile, om.writeValueAsBytes(node))
    // the NIO rewrite bypasses Hadoop's checksummed local FS — drop the
    // stale .crc sidecar so readPin's fs.open sees the downgraded bytes
    java.nio.file.Files.deleteIfExists(
      pinFile.getParent.resolve(s".${pinFile.getFileName}.crc"))
    // mutate, then restore THROUGH the downgraded pin
    Similarity.appendIvfIndex(vecs(60 until 90), col("vec_id"),
      col("embedding"), path)
    assert(ids() != pinnedIds, "the append must be visible before the restore")
    val rep = IndexSnapshots.restore(spark, path, "old")
    assert(rep.filesRestored > 0)
    assert(ids() == pinnedIds,
      "a format-1 pin must restore exactly the pinned generation")
  }

  test("an r13-cohort pin (version:1 stamp, ROOT-relative rels) restores " +
      "without a doubled version prefix") {
    // ADVICE r14: the r13 snapshot() already wrote root-relative,
    // chain-resolved rels while still stamping version:1 — unconditional
    // v1 prefixing would rewrite them to version_N/version_N/... and fail
    // the restore loudly as "pinned file gone". readPin disambiguates by
    // the first path component (partition= dir ⇒ version-dir-relative);
    // simulate the cohort by downgrading ONLY the format marker.
    val path = tmp("isnap-r13pin")
    val emb = vecs(0 until 60)
    Similarity.writeIvfIndex(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), path)
    def ids() = spark.read.parquet(Similarity.assignDir(spark, path))
      .select("neighbor_id").as[Long].collect().toSet
    val pinnedIds = ids()
    IndexSnapshots.snapshot(spark, path, "r13")
    val pinFile = java.nio.file.Paths.get(path,
      IndexSnapshots.SnapDirName, "r13.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(java.nio.file.Files.readAllBytes(pinFile))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.get("pointer").asText.nonEmpty)
    node.put("version", 1) // rels stay root-relative — the r13 shape
    java.nio.file.Files.write(pinFile, om.writeValueAsBytes(node))
    java.nio.file.Files.deleteIfExists(
      pinFile.getParent.resolve(s".${pinFile.getFileName}.crc"))
    Similarity.appendIvfIndex(vecs(60 until 90), col("vec_id"),
      col("embedding"), path)
    assert(ids() != pinnedIds)
    val rep = IndexSnapshots.restore(spark, path, "r13")
    assert(rep.filesRestored > 0)
    assert(ids() == pinnedIds,
      "an r13-cohort pin must restore exactly the pinned generation")
  }

  test("an r13-cohort pin whose chain includes ROOT-LAYER rels resolves " +
      "them by on-disk evidence, not name shape (ADVICE r15)") {
    // The r14 rule — '=' in the first path component ⇒ version-dir-
    // relative — mis-prefixes an r13-cohort (version:1, root-relative)
    // pin's root-layer rels like `cell=1/f2`. The fix checks whether the
    // unprefixed rel exists with the pinned (len, mtime) before falling
    // back to the prefixed form. Hand-craft the mixed pin the advice
    // describes: one version-resolved rel, one root-layer rel.
    val root = java.nio.file.Paths.get(tmp("isnap-evidence"))
    def mk(rel: String, bytes: String): (String, Long, Long) = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes.getBytes)
      (rel, java.nio.file.Files.size(p), p.toFile.lastModified)
    }
    val a = mk("assign-v1/cell=0/f1.parquet", "version-resolved")
    val b = mk("cell=1/f2.parquet", "root-layer")
    // the prefixed candidate dir exists but does NOT hold f2 — name-shape
    // prefixing would point the pin at a missing file
    java.nio.file.Files.createDirectories(root.resolve("assign-v1/cell=1"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("pointer", "assign-v1")
    node.put("version", 1)
    val files = node.putObject("files")
    Seq(a, b).foreach { case (rel, len, mt) =>
      val o = files.putObject(rel)
      o.put("len", len); o.put("mtime", mt); ()
    }
    node.putObject("companions")
    val snapDir = root.resolve(graft.operators.IndexSnapshots.SnapDirName)
    java.nio.file.Files.createDirectories(snapDir)
    java.nio.file.Files.write(snapDir.resolve("mix.json"),
      om.writeValueAsBytes(node))
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pointers = IndexSnapshots.pinnedPointers(fs,
      new org.apache.hadoop.fs.Path(root.toString))
    // evidence resolution: the root-layer rel maps to "" (the root
    // layout); the r14 name-shape rule returned only {"assign-v1"}
    assert(pointers == Set("assign-v1", ""),
      s"root-layer rel must resolve unprefixed: $pointers")
  }

  test("publish revalidates under its lock: an index that advanced " +
      "between stage and publish fails the publish, not silently") {
    val path = tmp("isnap-stage-race")
    Retrieval.writeBm25Index(docs(1 to 60), col("doc_id"), col("text"),
      path, 8)
    IndexSnapshots.snapshot(spark, path, "pin")
    Retrieval.appendBm25Index(docs(61 to 90), col("doc_id"), col("text"),
      path)
    val staged = IndexSnapshots.stageRestore(spark, path, "pin")
    // the stage→publish window: a concurrent append advances the index
    Retrieval.appendBm25Index(docs(91 to 120), col("doc_id"), col("text"),
      path)
    val ex = intercept[IllegalArgumentException] {
      IndexSnapshots.publishStaged(spark, path, staged)
    }
    assert(ex.getMessage.contains("advanced between staging and publish"))
    // and a clean re-run still restores
    assert(IndexSnapshots.restore(spark, path, "pin").filesRestored > 0)
  }

  test("unpinned versions stay vacuumable; pinned ones survive") {
    val path = tmp("isnap-vac")
    Retrieval.writeBm25Index(docs(1 to 60), col("doc_id"), col("text"),
      path, 8)
    // fragment every bucket so compaction is a FULL flatten into
    // _postings-v1 (an already-compact index no-ops under the r13
    // selective semantics), retiring the root layout
    Retrieval.appendBm25Index(docs(61 to 120), col("doc_id"), col("text"),
      path)
    Retrieval.compactBm25Index(spark, path) // -> _postings-v1 (full)
    IndexSnapshots.snapshot(spark, path, "pin") // pins _postings-v1
    Retrieval.appendBm25Index(docs(121 to 150), col("doc_id"), col("text"),
      path)
    // files appended into the PINNED active dir after the pin do not
    // break it: restore copies only the pinned subset
    Retrieval.compactBm25Index(spark, path) // -> _postings-v2
    val removed = Retrieval.vacuumBm25Index(spark, path)
    assert(removed > 0, "the retired root layout must be vacuumable")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_postings-v1")),
      "the pinned version must survive vacuum")
    val rep = IndexSnapshots.restore(spark, path, "pin")
    assert(rep.filesRestored > 0)
    assert(IndexSnapshots.deleteSnapshot(spark, path, "pin"))
  }

  test("SQL spellings: index_snapshot / index_snapshots / index_restore, " +
      "and 'index:' members in snapshot_all/restore_all") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft-isnap-sql-lake").toString + "/t"
    val idx = tmp("isnap-sql")
    val base = docs(1 to 60)
      .withColumn("a", col("doc_id") % 8).withColumn("b", col("doc_id") % 5)
    graft.sinks.Sinks.zorderedWrite(base, "a", "b", lake, numFiles = 4,
      bits = 6)
    Retrieval.writeBm25Index(base, col("doc_id"), col("text"), idx, 8)
    val pinned = Retrieval.searchBm25Index(spark, idx, q, 30).collect().toSeq
    val r = spark
      .sql(s"CALL graft.snapshot_all('sq', '$lake', 'index:$idx')").collect()
    assert(r.head.getAs[Int]("tables") == 1)
    assert(r.head.getAs[Int]("indexes") == 1)
    assert(spark.sql(s"CALL graft.index_snapshots('$idx')")
      .collect().map(_.getString(0)).toSeq == Seq("sq"))
    Retrieval.appendBm25Index(docs(61 to 120), col("doc_id"), col("text"),
      idx)
    Retrieval.compactBm25Index(spark, idx)
    spark.sql(s"CALL graft.restore_all('sq', '$lake', 'index:$idx')")
      .collect()
    assert(Retrieval.searchBm25Index(spark, idx, q, 30).collect().toSeq
      == pinned)
    // single-index verbs round-trip too
    spark.sql(s"CALL graft.index_snapshot('$idx', 'sq2')").collect()
    Retrieval.appendBm25Index(docs(121 to 150), col("doc_id"), col("text"),
      idx)
    val rep = spark.sql(s"CALL graft.index_restore('$idx', 'sq2')")
      .collect().head
    assert(rep.getAs[Int]("files_restored") > 0)
    assert(Retrieval.searchBm25Index(spark, idx, q, 30).collect().toSeq
      == pinned)
  }

  test("group snapshot/restore with indexRoots rolls lakes AND index " +
      "generations back together") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft-isnap-lake").toString + "/t"
    val idx = tmp("isnap-group")
    val base = docs(1 to 60)
      .withColumn("a", col("doc_id") % 8).withColumn("b", col("doc_id") % 5)
    graft.sinks.Sinks.zorderedWrite(base, "a", "b", lake, numFiles = 4,
      bits = 6)
    Retrieval.writeBm25Index(base, col("doc_id"), col("text"), idx, 8)
    val pinnedAnswers =
      Retrieval.searchBm25Index(spark, idx, q, 30).collect().toSeq
    Snapshots.snapshotTables(spark, Seq(lake), "grp", indexRoots = Seq(idx))
    // corpus and index both advance
    val extra = docs(61 to 120)
      .withColumn("a", col("doc_id") % 8).withColumn("b", col("doc_id") % 5)
    graft.sinks.LakeDelete.appendLake(spark, lake, extra)
    Retrieval.appendBm25Index(extra, col("doc_id"), col("text"), idx)
    Retrieval.compactBm25Index(spark, idx)
    Snapshots.restoreTables(spark, Seq(lake), "grp", indexRoots = Seq(idx))
    assert(graft.sources.ZLake.read(spark, lake).count() == 60,
      "the lake must roll back")
    assert(Retrieval.searchBm25Index(spark, idx, q, 30).collect().toSeq
      == pinnedAnswers,
      "the index must answer for the restored corpus, not the live one")
  }
}
