package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.LakeDelete
import graft.sources.ZLake

/** LAYERED index generations — the machinery behind SELECTIVE compaction
  * of the persisted IVF / BM25 indexes (VERDICT r12 #4).
  *
  * Problem: compaction used to rewrite the ENTIRE partitioned store
  * (every `cell=` / `bucket=` directory) into a fresh version dir per
  * maintenance cycle. At 100 TB that is a full-index rewrite to fix a
  * handful of append-hot partitions — the same scale bug
  * [[graft.sinks.Sinks.compactBucketedLake]] already solved for lakes by
  * rewriting only over-target buckets.
  *
  * Solution: a compacted version dir may now be a LAYER — it holds only
  * the REWRITTEN partitions plus a `_layer.json` manifest
  * `{base, partition, replaces}` naming the previous generation it
  * shadows. Readers resolve the chain newest→oldest and take, per
  * partition value, every layer's files until (and including) the first
  * layer that lists the value in `replaces` — so untouched partitions'
  * files are served from their ORIGINAL generation, byte-identical,
  * never rewritten or copied. Appends keep landing in the top layer
  * (additive: a layer only SHADOWS values it explicitly replaces), and a
  * FULL compaction (or a generation restore) writes no manifest, which
  * terminates the chain — the flattening escape hatch that also bounds
  * chain length ([[MaxLayers]]).
  *
  * Scale shape: probes still prune to the queried partition values —
  * now across ≤ [[MaxLayers]] directory listings instead of one — and a
  * maintenance cycle rewrites only the partitions whose file counts
  * drifted past target. The pointer-swap atomicity, OCC validate, and
  * generation-snapshot machinery are unchanged; snapshots pin the
  * RESOLVED file set root-relatively, so a pin spanning layers restores
  * exactly ([[IndexSnapshots]]).
  */
private[graft] object IndexLayers {

  val MetaName = "_layer.json"

  /** Chains longer than this flatten on the next compaction: every
    * probe pays one listStatus per layer, so depth is a tax. */
  val MaxLayers = 4

  /** One resolved generation: its absolute dir and the partition VALUES
    * (as strings — `cell=5` → "5") it replaces in older layers; None =
    * a full layer (replaces everything; always the chain's end). */
  final case class Layer(dir: String, replaces: Option[Set[String]])

  def write(fs: FileSystem, dir: Path, base: String, partition: String,
            replaces: Seq[String]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("base", base)
    node.put("partition", partition)
    val arr = node.putArray("replaces")
    replaces.sorted.foreach(arr.add)
    LakeDelete.publishSidecar(fs, new Path(dir, MetaName),
      om.writeValueAsString(node))
  }

  /** (base dir name, replaced values) if `dir` is a layer; None = full. */
  def read(fs: FileSystem, dir: Path): Option[(String, Set[String])] =
    LakeDelete.readSidecar(fs, new Path(dir, MetaName)).map { txt =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      import scala.jdk.CollectionConverters._
      (node.get("base").asText,
        node.path("replaces").elements().asScala.map(_.asText).toSet)
    }

  /** The generation chain, newest first, starting at the active dir.
    * `resolve` maps a base NAME from a manifest to its absolute dir
    * (layout-specific: "" is the BM25 root layout). */
  def chain(fs: FileSystem, top: String,
            resolve: String => String): Seq[Layer] = {
    val out = Vector.newBuilder[Layer]
    var cur = top
    var depth = 0
    var done = false
    while (!done) {
      require(depth <= MaxLayers + 1, s"index layer chain too deep at $cur")
      read(fs, new Path(cur)) match {
        case Some((base, repl)) =>
          out += Layer(cur, Some(repl))
          cur = resolve(base)
          depth += 1
        case None =>
          out += Layer(cur, None)
          done = true
      }
    }
    out.result()
  }

  /** Shadow-filtered union of the chain: layer i contributes every row
    * whose partition value no NEWER layer replaces. One-layer chains
    * collapse to a plain read — identical plan (and partition pruning)
    * to the pre-layering code. */
  def readChain(spark: SparkSession, layers: Seq[Layer],
                partition: String): DataFrame = {
    var shadowed = Set.empty[String]
    val dfs = layers.map { l =>
      val df0 = spark.read.parquet(l.dir)
      val df =
        if (shadowed.isEmpty) df0
        else df0.filter(!col(partition).cast("string")
          .isin(shadowed.toSeq: _*))
      shadowed = shadowed ++ l.replaces.getOrElse(Set.empty)
      df
    }
    dfs.reduceLeft(_ unionByName _)
  }

  /** Visible data-file counts per partition VALUE across the chain
    * (shadowed layers excluded) — the fragmentation measure selective
    * compaction thresholds on. */
  def fileCounts(fs: FileSystem, layers: Seq[Layer],
                 partition: String): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    var shadowed = Set.empty[String]
    layers.foreach { l =>
      val dir = new Path(l.dir)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(s"$partition=")) {
          val v = n.substring(partition.length + 1)
          if (!shadowed.contains(v)) {
            counts(v) = counts.getOrElse(v, 0) +
              ZLake.dataFilesIn(fs, st.getPath).size
          }
        }
      }
      shadowed = shadowed ++ l.replaces.getOrElse(Set.empty)
    }
    counts.toMap
  }

  /** Identity fingerprint over the WHOLE chain — the compaction
    * read-set under layering (an append to ANY generation must
    * invalidate an in-flight rewrite). Torn listings yield a never-equal
    * token ([[ZLake.fingerprintWith]]), so a swap can only publish over a
    * provably unchanged read state. */
  def fingerprintChain(fs: FileSystem, layers: Seq[Layer]): String =
    layers.map(l => ZLake.fingerprintWith(fs, new Path(l.dir))).mkString("|")

  /** The chain's RESOLVED data-file identities, root-relative — what a
    * generation snapshot pins (restore copies these, flattening the
    * chain). Shadowed partitions and `_layer.json` manifests excluded. */
  def resolvedFiles(fs: FileSystem, root: Path, layers: Seq[Layer],
                    partition: String): Seq[(String, Long, Long)] = {
    def rel(p: Path): String = {
      require(p.toUri.getPath.startsWith(root.toUri.getPath),
        s"$p outside $root")
      ZLake.relPath(root, p)
    }
    val out = Vector.newBuilder[(String, Long, Long)]
    var shadowed = Set.empty[String]
    layers.foreach { l =>
      val dir = new Path(l.dir)
      // only `$partition=` dirs carry data: a layer dir may also be the
      // index ROOT (the BM25 pre-compaction layout), whose other entries
      // (version dirs, sidecars, snapshot dirs) are not postings
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(s"$partition=") &&
          !shadowed.contains(n.substring(partition.length + 1))) {
          val pdir = rel(st.getPath)
          out ++= ZLake.dataFileIdentities(fs, st.getPath).map {
            case (r, len, mt) => (s"$pdir/$r", len, mt)
          }
        }
      }
      shadowed = shadowed ++ l.replaces.getOrElse(Set.empty)
    }
    out.result().sortBy(_._1)
  }
}
