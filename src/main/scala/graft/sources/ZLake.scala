package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{BooleanType, Decimal, DoubleType, FloatType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Stats-carrying lake read: per-file min/max envelopes harvested from the
  * parquet FOOTERS (a metadata-only pass — no data pages touched) drive
  * file-level skipping at PLANNING time, before a single task is launched.
  *
  * This is the read-side payoff of [[graft.sinks.Sinks.zorderedWrite]]: the
  * z-order layout makes every file's envelope tight on BOTH clustered
  * columns (measured in ZOrderLayoutSpec), so a predicate on either column
  * eliminates most files here — at 100 TB that is the difference between
  * launching tasks for ~3% of the lake and scanning all of it. Row groups
  * inside the files that DO survive are further skipped by parquet's own
  * row-group statistics once Spark pushes the filters down (asserted via
  * scan metrics in ZOrderPruneSpec).
  *
  * Spark-first shape: a [[FileIndex]] — the same seam Spark's own catalog
  * file listing and open-lakehouse formats use for data skipping — feeding
  * a plain parquet `HadoopFsRelation`, so the scan keeps the vectorized
  * reader, whole-stage codegen, filter pushdown, and every downstream
  * optimization. Pruning consumes the `dataFilters` Spark already hands to
  * `listFiles`; nothing is re-implemented on the read path itself.
  *
  * The envelope test is conservative: unsupported predicates, columns
  * without usable stats (logical types beyond int/float/string), and
  * non-literal comparisons keep the file. Comparisons are null-rejecting,
  * so null-laden chunks are safe: rows with NULL never satisfy the pushed
  * predicate, and a chunk with no non-null values carries no envelope and
  * is kept only when some other conjunct cannot rule it out.
  */
object ZLake {

  /** [lo, hi] of a column within one file; values are Double (numerics)
    * or String (UTF8-annotated binary). */
  final case class ColEnvelope(lo: Any, hi: Any)

  /** `partitionValues`: `col=value` path segments between the table root
    * and the file (the lake's `win=...` layout), in directory order.
    * `rows`/`nullCounts` drive IsNull/IsNotNull pruning: a column with a
    * KNOWN zero null count can never satisfy IS NULL, and a known
    * all-null column never satisfies IS NOT NULL (or any comparison).
    * `sketches`: optional per-column HLL registers computed at write time
    * ([[graft.sinks.Sinks.zorderedWrite]] `sketchCols`) — elementwise-max
    * mergeable, so any file subset's union distinct count estimates
    * WITHOUT a scan ([[approxDistinct]]).
    * `blooms`: optional per-column bloom filters (`bloomCols` at write
    * time), stored as `[numHashes, bitWord0, bitWord1, …]`. Point
    * predicates (`col = 'x'`, `IN`) prune files whose bloom PROVES the
    * value absent — the no-false-negative direction — reaching past
    * min/max envelopes on high-cardinality columns whose per-file ranges
    * all overlap (the Parquet-bloom / Iceberg pattern). */
  /** `sums`: optional per-column EXACT sums (`sumCols` at write time,
    * BigDecimal — no double lane), present only for files whose sum is
    * non-NULL. [[graft.plans.ManifestAggs]] then answers `sum`/`avg` over
    * any partition-selected slice with zero tasks; a file missing its sum
    * entry contributes nothing ONLY when provably all-NULL in the column
    * (known nullCount == rows), else the rewrite bails to the scan. */
  final case class FileEnvelope(status: FileStatus, rowGroups: Int,
                                cols: Map[String, ColEnvelope],
                                partitionValues: Seq[(String, String)] = Nil,
                                rows: Long = -1L,
                                nullCounts: Map[String, Long] = Map.empty,
                                sketches: Map[String, Array[Long]] = Map.empty,
                                blooms: Map[String, Array[Long]] = Map.empty,
                                sums: Map[String, BigDecimal] = Map.empty)

  /** Recursively list data files under `root`, carrying the `col=value`
    * segments each file sits beneath (keys lowercased), sorted by path.
    *
    * THE data-file rule, spelled here and nowhere else: a data file is a
    * `*.parquet` file whose name and every directory name below `root`
    * start with neither '_' nor '.'; a `k=v` directory is a partition.
    * '_'/'.' prefixes are metadata by Hadoop convention (Spark's own
    * InMemoryFileIndex skips them), so checksums, `_SUCCESS`, manifests,
    * the journal and every staging dir (`_compacting/`, `.append-…`,
    * `_txn/`) are invisible to readers and mutations alike. Every other
    * file-set consumer goes through this listing, [[dataFilesIn]] (one
    * directory) or [[dataFileIdentities]] (conflict checks). */
  private[graft] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path)
      : Seq[(FileStatus, Seq[(String, String)])] =
    listDataFilesDetectTorn(fs, root)._1

  /** The data files directly in `dir` (no descent), sorted by name. A
    * missing `dir` throws, like [[listDataFiles]]' root. */
  private[graft] def dataFilesIn(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: Path): Seq[FileStatus] =
    listDataFilesDetectTorn(fs, dir, recursive = false)._1.map(_._1)

  /** Every data file's `(root-relative path, len, mtime)`, sorted by path —
    * the identity set optimistic conflict checks and pins compare. A torn
    * listing throws `FileNotFoundException` instead of returning a set a
    * concurrent rewrite shrank. */
  private[graft] def dataFileIdentities(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(String, Long, Long)] = {
    val (files, torn) = listDataFilesDetectTorn(fs, root)
    if (torn) throw new java.io.FileNotFoundException(
      s"a directory under $root vanished mid-listing")
    files.map { case (st, _) =>
      (relPath(root, st.getPath), st.getLen, st.getModificationTime)
    }
  }

  /** [[listDataFiles]] plus a TORN flag: true when a subdir observed in
    * its parent's listing vanished before its own listStatus ran (a
    * concurrent rewrite swapped it mid-walk). Read paths treat a vanished
    * subtree as empty — per-file (rel, len, mtime) identities, not this
    * listing snapshot, are what correctness reconciles against — but
    * IDENTITY consumers ([[stateFingerprint]], [[dataFileIdentities]])
    * must not: a torn listing can momentarily equal an older pinned
    * fingerprint and wave a stale materialized view or ANN index through
    * its freshness guard. `recursive = false` lists `root` alone. */
  private[graft] def listDataFilesDetectTorn(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      recursive: Boolean = true)
      : (Seq[(FileStatus, Seq[(String, String)])], Boolean) = {
    var torn = false
    def walk(dir: Path, parts: Seq[(String, String)])
        : Seq[(FileStatus, Seq[(String, String)])] = {
      // The ROOT stays fail-loud (a missing lake is an error, not a race).
      val listed =
        try fs.listStatus(dir).toSeq
        catch {
          case _: java.io.FileNotFoundException if (dir != root) =>
            torn = true; Nil
        }
      listed.flatMap { st =>
        val name = st.getPath.getName
        if (isHidden(name)) Nil
        else if (st.isDirectory && !recursive) Nil
        else if (st.isDirectory) {
          val part = name.split("=", 2) match {
            case Array(k, v) => Seq(k.toLowerCase -> v)
            case _ => Nil
          }
          walk(st.getPath, parts ++ part)
        } else if (name.endsWith(".parquet")) Seq((st, parts))
        else Nil
      }
    }
    (walk(root, Nil).sortBy(_._1.getPath.toString), torn)
  }

  /** The rule's hidden names: a `_`- or `.`-prefixed file or directory
    * (sidecars, manifests, staging and metadata dirs, checksum files) is
    * never lake data, and nothing under a hidden directory is either. */
  private[graft] def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The file's status if it still has the `(len, mtime)` identity a
    * reader captured; None when it is gone or was rewritten — the
    * per-file probe of every optimistic conflict check and pin. */
  private[graft] def unchangedStatus(fs: org.apache.hadoop.fs.FileSystem,
                                     p: Path, len: Long,
                                     mtime: Long): Option[FileStatus] =
    try Some(fs.getFileStatus(p)).filter(st =>
      st.getLen == len && st.getModificationTime == mtime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Manifest file written beside the data (underscore prefix: invisible
    * to Spark's data-file listing and to [[listDataFiles]]). One manifest
    * per DIRECTORY of data files, so a partitioned lake carries one per
    * `win=` dir and dynamic partition overwrite naturally replaces it with
    * its partition. */
  val ManifestName = "_graft_manifest.json"

  /** Sidecar declaring the lake HASH-BUCKETED by a key
    * ([[graft.sinks.Sinks.bucketedLakeWrite]]): `{numBuckets, cols}`.
    * Every data file's name carries its bucket id in Spark's own
    * `_NNNNN` spelling, and [[relationWith]] surfaces the layout as a
    * `BucketSpec`, so equi-joins and aggregations on the key plan with
    * ZERO shuffle exchanges — catalog-free bucketing: the co-location
    * contract travels with the PATH (manifest-style), not a Hive
    * metastore, which a 100 TB multi-cluster lake cannot assume.
    * Mutation surface while the sidecar exists: APPEND-ONLY
    * ([[graft.sinks.LakeDelete.appendLake]] routes rows through the
    * same `pmod(murmur3(key), n)` the scan declares; every rewriting
    * mutation refuses — see [[graft.sinks.LakeDelete.requireNotBucketed]]). */
  val BucketsName = "_graft_buckets.json"

  /** The bucketing contract a [[BucketsName]] sidecar pins. */
  final case class BucketInfo(numBuckets: Int, cols: Seq[String])

  /** The lake's bucketing contract, if declared. */
  def bucketInfo(fs: org.apache.hadoop.fs.FileSystem,
                 root: Path): Option[BucketInfo] = {
    val p = new Path(root, BucketsName)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    Some(BucketInfo(node.path("numBuckets").asInt(),
      node.path("cols").elements().asScala.map(_.asText()).toSeq))
  }

  private[graft] def writeBucketInfo(fs: org.apache.hadoop.fs.FileSystem,
                                     root: Path, info: BucketInfo): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("numBuckets", info.numBuckets)
    val a = node.putArray("cols"); info.cols.foreach(a.add)
    val out = fs.create(new Path(root, BucketsName), true)
    try out.write(om.writeValueAsBytes(node)) finally out.close()
  }

  /** Parquet footers opened by the harvest path — a test seam: a read over
    * a manifest-covered lake must not move this counter (asserted in
    * ZLakeManifestSpec). */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Envelopes + the write-time data schema (union-merged across
    * manifests), `None` when some directory had no usable manifest. */
  private[sources] final case class Harvest(fes: Seq[FileEnvelope],
                                   schema: Option[StructType])

  /** Read every file's envelope under `path`. Stats come from the
    * write-time MANIFEST when present (one ~KB sidecar open per
    * DIRECTORY); only files a manifest does not cover (no sidecar, or a
    * length mismatch from a foreign writer) fall back to a footer open.
    * At a 100 TB lake (~10^5 files) this turns the per-query driver-side
    * planning cost from O(files) footer RPCs into O(partition dirs)
    * sidecar reads — the footer sweep was the centralized bottleneck. */
  def envelopes(spark: SparkSession, path: String): Seq[FileEnvelope] =
    harvest(spark, path).fes

  /** Identity FINGERPRINT of the lake's live data-file set — an MD5 over
    * the sorted `(relative path, length, mtime)` tuples, the same identity
    * key [[Snapshots]] and [[ZLakeTail]] pin files by. Any journaled
    * mutation (append, delete, upsert, compaction) changes it; equal
    * fingerprints mean the planned file set is unchanged. Cost is one
    * recursive listing (no footer or manifest reads) — what
    * [[graft.plans.MvRewrite]] pays per candidate rewrite to prove the
    * registered view still covers the base. */
  def stateFingerprint(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fingerprintWith(fs, root)
  }

  private[graft] def fingerprintWith(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): String = {
    if (!fs.exists(root)) return "absent"
    // A TORN listing (subtree vanished mid-walk under a concurrent
    // rewrite) may coincide byte-for-byte with an older pinned state —
    // e.g. a compaction swap racing this walk can hide exactly the
    // partition added since an MV registration, and the freshness guard
    // would wave the stale view through. Retry until the walk is stable;
    // a persistently torn lake yields a UNIQUE token so equality (the
    // only operation consumers perform) can never hold.
    var attempt = 0
    while (attempt < 3) {
      val (files, torn) = listDataFilesDetectTorn(fs, root)
      if (!torn) {
        val s = files.map { case (st, _) =>
          s"${relPath(root, st.getPath)}:${st.getLen}:${st.getModificationTime}"
        }.mkString("\n")
        return java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
      }
      attempt += 1
    }
    s"torn:${java.util.UUID.randomUUID()}"
  }

  /** Partition column names (lowercase) from the DIRECTORY layout alone —
    * the fallback [[graft.sinks.LakeDelete.upsertLake]] needs on a lake a
    * mutation fully emptied: the `win=` dirs (and their kept manifests)
    * outlive the files, so an upsert into an emptied partitioned lake
    * still lands in the right layout. */
  private[graft] def dirPartitionCols(spark: SparkSession,
                                      path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(d: Path): Seq[String] = {
      if (!fs.exists(d)) return Nil
      fs.listStatus(d).toSeq
        .filter(st => st.isDirectory && !isHidden(st.getPath.getName))
        .sortBy(_.getPath.getName)
        .iterator.map { st =>
          st.getPath.getName.split("=", 2) match {
            case Array(k, _) => k.toLowerCase +: walk(st.getPath)
            case _ => Nil
          }
        }.find(_.nonEmpty).getOrElse(Nil)
    }
    walk(root)
  }

  /** `p` relative to `root`, as the key a consolidated manifest stores. */
  private[graft] def relPath(root: Path, p: Path): String = {
    val r = root.toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(r).stripPrefix("/")
  }

  private[sources] def harvest(spark: SparkSession, path: String): Harvest = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = listDataFiles(fs, root)
    // CONSOLIDATED manifest first: one sidecar at the lake root keyed by
    // root-relative path covers every partition in a single driver read
    // (at 10^5 win= dirs the per-dir sidecar sweep is itself the next
    // O(dirs) planning bottleneck — see [[consolidateManifests]]); for an
    // unpartitioned lake the root manifest IS the dir manifest (relative
    // path == file name), one lookup model for both.
    val rootMan = readManifest(fs, root)
    def fromRoot(st: FileStatus): Option[ManifestEntry] =
      rootMan.flatMap(_.files.get(relPath(root, st.getPath)))
        .filter(_.len == st.getLen)
    // per-dir sidecars are read ONLY for files the root manifest does not
    // cover (windows landed after consolidation, or no consolidation yet)
    val uncoveredDirs = files.collect {
      case (st, _) if fromRoot(st).isEmpty => st.getPath.getParent
    }.distinct.filterNot(_ == root)
    val manifests: Map[Path, Manifest] = uncoveredDirs.flatMap { d =>
      readManifest(fs, d).map(d -> _)
    }.toMap
    def entryFor(st: FileStatus): Option[ManifestEntry] =
      fromRoot(st).orElse(
        manifests.get(st.getPath.getParent)
          .flatMap(_.files.get(st.getPath.getName))
          .filter(_.len == st.getLen))
    val fes = files.flatMap { case (st, parts) =>
      entryFor(st)
        .map(e => FileEnvelope(st, e.rowGroups, e.cols, parts, e.rows,
          e.nulls, e.sketches, e.blooms, e.sums))
        .orElse {
          // the listing race, one step later: a file listed above can be
          // retired by a concurrent rewrite before its footer opens —
          // same read-path tolerance as the vanished-subtree rule (the
          // file set reconciles by identity, not by this snapshot);
          // WRITE paths (writeManifest) stay fail-loud by design, their
          // journal commit would conflict on the race anyway
          try Some(envelopeOf(st, parts, conf))
          catch { case _: java.io.FileNotFoundException => None }
        }
    }
    val covered = files.nonEmpty && files.forall { case (st, _) =>
      entryFor(st).isDefined
    }
    val schema =
      if (files.isEmpty) {
        // an EMPTIED lake (every row deleted): the schema survives in the
        // consolidated root manifest or any emptied dir's kept manifest —
        // "DELETE everything; SELECT" must plan an empty result, not fail
        rootMan.map(_.schema).orElse {
          def firstMan(d: Path): Option[StructType] = {
            if (!fs.exists(d)) return None
            readManifest(fs, d).map(_.schema).orElse(
              fs.listStatus(d).toSeq
                .filter(st => st.isDirectory && !isHidden(st.getPath.getName))
                .sortBy(_.getPath.getName)
                .iterator.flatMap(st => firstMan(st.getPath))
                .nextOption())
          }
          firstMan(root)
        }
      }
      else if (!covered) None
      else {
        // union-merge across the manifests actually used (schema evolution
        // between windows): first occurrence of a field name wins its type
        val usedRoot = rootMan.toSeq
          .filter(_ => files.exists { case (st, _) => fromRoot(st).isDefined })
        val schemas = (usedRoot ++
          uncoveredDirs.flatMap(manifests.get)).map(_.schema)
        schemas.headOption.map { first =>
          val merged = schemas.drop(1).foldLeft(first) { (acc, s) =>
            val have = acc.fieldNames.map(_.toLowerCase).toSet
            StructType(acc.fields ++ s.fields.filterNot(f =>
              have.contains(f.name.toLowerCase)))
          }
          merged
        }
      }
    Harvest(fes, schema)
  }

  /** Collapse a partitioned lake's per-directory manifests into ONE
    * consolidated sidecar at the lake root, keyed by root-relative path.
    * Planning then costs a single driver-side read regardless of how many
    * `win=` partitions the lake has grown — the per-dir sidecar sweep is
    * O(dirs), the next planning bottleneck after footers at a 10^5-window
    * lake. Envelopes come from the existing manifests (footers open only
    * for files no sidecar covers); per-dir sidecars stay behind as the
    * incremental layer: windows landed AFTER consolidation fall back to
    * their own sidecar (the root entry's length check rejects stale rows),
    * so a periodic re-consolidation — e.g. after [[graft.sinks.Sinks
    * .compactLake]] — keeps planning at one read without ever blocking
    * ingest. Idempotent; atomically replaced. */
  def consolidateManifests(spark: SparkSession, path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val h = harvest(spark, path)
    if (h.fes.isEmpty) return
    val schema = h.schema.getOrElse(
      spark.read.parquet(h.fes.head.status.getPath.toString).schema)
    val entries = h.fes.map(fe => relPath(root, fe.status.getPath) -> fe)
    writeManifestFile(fs, root, schema, entries)
  }

  /** A planning-time sketch answer: `filesUsed` of `filesTotal` envelopes
    * survived the predicates and contributed registers. */
  final case class SketchEstimate(estimate: Double, filesUsed: Int,
                                  filesTotal: Int)

  /** Planning-time `approx COUNT(DISTINCT column)` over the lake — ZERO
    * data scanned: per-file HLL registers from the write-time manifest
    * (`sketchCols` on [[graft.sinks.Sinks.zorderedWrite]]/[[writeManifest]])
    * merge by elementwise max, which is EXACTLY the union's sketch, so the
    * estimate for any file subset equals the estimate a full scan of those
    * files would sketch. At a 100 TB lake this answers "how many distinct
    * users in this window / this z-range" in driver milliseconds.
    *
    * `predicates` (SQL conjunct strings) select the file subset:
    * partition-column conjuncts evaluate EXACTLY per directory (eval
    * errors keep the directory — conservative); data-column conjuncts
    * prune files via the same envelope test the scan path uses. NOTE the
    * granularity contract: data conjuncts select FILES that may contain
    * matching rows — surviving files contribute their WHOLE sketch (zone-
    * map granularity, like every file-stats system); partition-only
    * predicates are row-exact because a directory matches entirely or not
    * at all. None when any surviving file lacks a usable sketch for
    * `column` (foreign append, mismatched m) — the caller falls back to a
    * scan. Unknown attribute names throw. */
  def approxDistinct(spark: SparkSession, path: String, column: String,
                     predicates: Seq[String] = Nil): Option[SketchEstimate] = {
    // manifest sketches predate any merge-on-read deletion vectors —
    // their union would overcount; None sends the caller to the scan path
    if (graft.sinks.DeletionVectors.present(spark, path)) return None
    val h = harvest(spark, path)
    if (h.fes.isEmpty) return None
    val partCols = h.fes.headOption.map(_.partitionValues.map(_._1))
      .getOrElse(Nil)
    val known: Set[String] = {
      val dataCols = h.schema.map(_.fieldNames.toSeq).getOrElse(
        h.fes.flatMap(fe => fe.cols.keys ++ fe.nullCounts.keys ++
          fe.sketches.keys).distinct)
      (dataCols.map(_.toLowerCase) ++ partCols).toSet
    }
    val exprs = predicates.map { sql =>
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      parsed.transformUp {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          val n = u.name.toLowerCase
          if (!known.contains(n)) throw new IllegalArgumentException(
            s"approxDistinct predicate references unknown column '${u.name}'")
          AttributeReference(n, org.apache.spark.sql.types.StringType)()
      }
    }
    val (partPreds, dataPreds) = exprs.partition(
      _.references.forall(a => partCols.contains(a.name.toLowerCase)))
    def dirMatches(pv: Seq[(String, String)]): Boolean = {
      val row = InternalRow.fromSeq(pv.map(p => UTF8String.fromString(p._2)))
      partPreds.forall { p =>
        val bound = p.transform {
          case a: AttributeReference =>
            BoundReference(partCols.indexOf(a.name.toLowerCase),
              org.apache.spark.sql.types.StringType, nullable = true)
        }
        try bound.eval(row) == true
        catch { case scala.util.control.NonFatal(_) => true } // keep: estimate stays an over-set
      }
    }
    val survivors = h.fes.filter(fe => dirMatches(fe.partitionValues) &&
      dataPreds.forall(mayMatch(_, fe)))
    if (survivors.isEmpty) return Some(SketchEstimate(0.0, 0, h.fes.size))
    val name = column.toLowerCase
    val regsList = survivors.map(_.sketches.get(name))
    if (regsList.exists(_.isEmpty)) return None
    val regs = regsList.flatten
    val m = regs.head.length
    if (regs.exists(_.length != m) || m == 0) return None
    val merged = new Array[Long](m)
    regs.foreach { r =>
      var i = 0
      while (i < m) { if (r(i) > merged(i)) merged(i) = r(i); i += 1 }
    }
    // 2^-r via an exact shift (identical to pow for r <= 57, and spelled
    // shift-wise so the oracle is visibly libm-free)
    val invSum = merged.map(r => 1.0 / (1L << r.toInt).toDouble).sum
    val raw = hllAlpha(m) * m * m / invSum
    // standard small-range correction (Flajolet et al. §4): the raw
    // harmonic estimate is biased high when n ≪ m (a tiny window slice of
    // a big lake — exactly this API's common case); below 2.5m with empty
    // registers, linear counting over the zero registers is the better
    // estimator. q109's oracle replicates BOTH regimes (raw + the
    // correction branch), so it stays green at any scale factor
    // (ManifestSketchSpec pins both regimes too).
    val zeros = merged.count(_ == 0L)
    // linear counting via the pure-integer fixed-point log:
    // m·ln(m/zeros) = m·(lnm(m) − lnm(zeros)) / 10⁶ — both engines
    // compute the identical integers (no libm; q109 splices the same
    // lnm literals)
    val estimate =
      if (raw <= 2.5 * m && zeros > 0)
        (m.toLong * (graft.functions.Kernels.lnFixMicros(m.toLong) -
          graft.functions.Kernels.lnFixMicros(zeros.toLong))).toDouble / 1e6
      else raw
    Some(SketchEstimate(estimate, survivors.size, h.fes.size))
  }

  /** Standard HLL bias constant (q73 uses the m=16 value). */
  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  // ---- manifest serialization (Jackson, shipped with Spark) --------------

  /** One file's manifest stats: (HLL register vectors, bloom word vectors
    * with their probe arity prepended, exact decimal sums), each keyed by
    * lowercase column name — the unit [[writeManifest]]'s stats job yields
    * per file, and what a fused writer precomputes. */
  type FileStats = (Map[String, Array[Long]], Map[String, Array[Long]],
    Map[String, BigDecimal])

  private[sources] final case class ManifestEntry(len: Long, rowGroups: Int, rows: Long,
      cols: Map[String, ColEnvelope], nulls: Map[String, Long],
      sketches: Map[String, Array[Long]] = Map.empty,
      blooms: Map[String, Array[Long]] = Map.empty,
      sums: Map[String, BigDecimal] = Map.empty)
  private[sources] final case class Manifest(schema: StructType,
      files: Map[String, ManifestEntry])

  /** Harvest the footers under `path` ONCE (write time) and persist the
    * per-file envelopes + data schema as one sidecar per directory, so
    * every later [[read]] plans without touching a footer. Idempotent;
    * atomically replaced (temp file + rename). `dataSchema` defaults to the
    * parquet files' own schema; writers that partition (columns absent from
    * the files) pass the file schema explicitly.
    *
    * `sketchCols`: additionally compute per-file HLL registers
    * (`sketchM` each, one distributed pass over the just-written files)
    * and store them in the manifest — [[approxDistinct]] then answers
    * union distinct-count estimates over ANY file subset at planning time,
    * because HLL registers merge by elementwise max (the merged registers
    * of a subset ARE the registers of its union, exactly).
    *
    * `bloomCols`: per-file BLOOM filters (`bloomBits` bits, `bloomHashes`
    * hashes each, same single pass). [[mayMatch]] then prunes files on
    * point predicates (`col = 'x'`, `IN (...)`) whose bloom proves the
    * value absent — file skipping past min/max envelopes on
    * high-cardinality columns whose per-file ranges all overlap. Sound
    * because the bloom has NO false negatives (KernelsSpec): a pruned
    * file cannot hold a matching row; false positives only cost an extra
    * file read. */
  def writeManifest(spark: SparkSession, path: String,
                    dataSchema: Option[StructType] = None,
                    sketchCols: Seq[String] = Nil,
                    sketchM: Int = 256,
                    bloomCols: Seq[String] = Nil,
                    bloomBits: Int = 8192,
                    bloomHashes: Int = 4,
                    sumCols: Seq[String] = Nil,
                    precomputedStats: Option[Map[String, FileStats]] = None)
      : Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = listDataFiles(fs, root)
    if (files.isEmpty) return
    val schema = dataSchema.getOrElse(
      spark.read.parquet(files.head._1.getPath.toString).schema)
    // per-file sketches + blooms + exact sums: ONE pass grouped by source
    // file; keyed by the file's URI path so it matches FileStatus paths
    // regardless of scheme. Bloom arrays carry their own probe arity as
    // element 0 (`[numHashes, bitWords…]`) so the read side never guesses
    // k. Sums go through decimal(38, s) — exact for integral and decimal
    // columns (no double lane), overflow → NULL → the entry is omitted
    // and the query-time rewrite bails for files it cannot prove all-null.
    // the stats pass is a CLUSTER job, the envelope harvest DRIVER-side
    // footer I/O over the same (already-written) files — independent, so
    // the footer sweep hides behind the stats job's runtime instead of
    // serializing after it (the sweep is the expensive half on object
    // stores). A writer that already computed the per-file stats in its
    // own layout pass (zWriteWith's fused histogram+stats job) hands them
    // in and the output files are never re-read — the stats job runs only
    // for callers without that fusion (bucketedLakeWrite, foreign-file
    // manifests)
    val (envs, statsByFile) = graft.DriverPool.pair(
      () => envelopesAll(files, conf),
      () => precomputedStats.getOrElse(statsPass(
        spark.read.parquet(path).drop(partitionColsOf(files): _*), schema,
        sketchCols, sketchM, bloomCols, bloomBits, bloomHashes, sumCols)))
    files.groupBy(_._1.getPath.getParent).foreach { case (dir, inDir) =>
      val entries = inDir.map { case (st, parts) =>
        val env = envs(st.getPath)
        val (sk, bl, sm) = statsByFile.getOrElse(st.getPath.toUri.getPath,
          (Map.empty[String, Array[Long]], Map.empty[String, Array[Long]],
            Map.empty[String, BigDecimal]))
        st.getPath.getName -> env.copy(sketches = sk, blooms = bl, sums = sm)
      }
      writeManifestFile(fs, dir, schema, entries)
    }
  }

  /** [[envelopeOf]] for a batch of files, footers opened concurrently:
    * the manifest write's per-file envelope harvest is driver-side I/O
    * (one footer open per file, ~5-20 ms local, worse on object stores),
    * and each open reads one file. Keyed by path; fail-loud like the
    * sequential write path was. */
  private def envelopesAll(
      files: Seq[(FileStatus, Seq[(String, String)])],
      conf: org.apache.hadoop.conf.Configuration): Map[Path, FileEnvelope] =
    graft.DriverPool.run(8)(files.map { case (st, parts) =>
      () => st.getPath -> envelopeOf(st, parts, conf) }).toMap

  /** Test seam: distributed stats jobs actually run (SinksSpec pins that
    * the fused z-write path never re-reads its output through here). */
  private[graft] val statsJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** ONE distributed pass over `df` computing per-source-file manifest
    * stats (HLL registers, blooms, exact decimal sums), keyed by the file's
    * URI path. Shared by [[writeManifest]] (all files of a fresh write) and
    * [[repairDirManifest]] (only the files a rewrite replaced). Bloom
    * arrays carry their probe arity as element 0; sums go through
    * decimal(38, s) — exact for integral/decimal columns, overflow → NULL
    * → entry omitted (the query-time rewrite then bails unless the file is
    * provably all-null). `df` is by-name and built only when a stats
    * column is requested: building a `spark.read.parquet` input lists the
    * files and runs a schema-inference job, which a stats-less manifest
    * write does not need. */
  private def statsPass(df: => DataFrame, schema: StructType,
      sketchCols: Seq[String], sketchM: Int,
      bloomCols: Seq[String], bloomBits: Int, bloomHashes: Int,
      sumCols: Seq[String]): Map[String, (Map[String, Array[Long]],
      Map[String, Array[Long]], Map[String, BigDecimal])] = {
    if (sketchCols.isEmpty && bloomCols.isEmpty && sumCols.isEmpty)
      return Map.empty
    statsJobs.incrementAndGet()
    def sumScale(c: String): Int =
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(d: org.apache.spark.sql.types.DecimalType) => d.scale
        case _ => 0
      }
    import org.apache.spark.sql.functions.{col, input_file_name, sum}
    val aggs =
      sketchCols.map(c => graft.functions.KernelAggs
        .hll_registers(col(c).cast("string"), sketchM).as(s"__hll_$c")) ++
      bloomCols.map(c => graft.functions.KernelAggs
        .bloom_sketch(col(c).cast("string"), bloomBits, bloomHashes)
        .as(s"__bloom_$c")) ++
      sumCols.map(c => sum(col(c).cast(s"decimal(38,${sumScale(c)})"))
        .as(s"__sum_$c"))
    df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val regs = sketchCols.zipWithIndex.map { case (c, i) =>
          c.toLowerCase -> r.getSeq[Long](i + 1).toArray
        }.toMap
        val blooms = bloomCols.zipWithIndex.map { case (c, i) =>
          c.toLowerCase -> (bloomHashes.toLong +:
            r.getSeq[Long](i + 1 + sketchCols.size).toArray)
        }.toMap
        val sums = sumCols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getDecimal(i + 1 + sketchCols.size + bloomCols.size))
            .map(d => c.toLowerCase -> BigDecimal(d))
        }.toMap
        new Path(new java.net.URI(r.getString(0))).toUri.getPath ->
          (regs, blooms, sums)
      }.toMap
  }

  /** Incrementally repair ONE directory's manifest after files were
    * replaced or dropped in place ([[graft.sinks.LakeDelete]]): entries for
    * files the old manifest still covers (same name AND length) are kept
    * verbatim — their envelopes, sketches, blooms, and sums are exact and
    * untouched files were not rewritten — while uncovered files get fresh
    * footer envelopes plus recomputed stats in the SAME layout the old
    * manifest carried (sketch/bloom/sum columns and parameters are
    * INFERRED from the surviving entries, so a stats-carrying lake keeps
    * its zero-scan query paths across a delete without the caller
    * re-supplying write-time options). A directory left without data files
    * has its manifest removed; one never manifest-covered gets a plain
    * envelope manifest. */
  private[graft] def repairDirManifest(spark: SparkSession, dir: Path): Unit =
    repairDirManifests(spark, Seq(dir))

  /** Batched [[repairDirManifest]]: the per-dir triage (covered entries
    * kept verbatim, uncovered files listed) runs driver-side for every
    * directory first, then ONE distributed stats pass per DISTINCT
    * inferred layout recomputes sketches/blooms/sums for all fresh files
    * at once — a journaled mutation touching 10^3 directories of a
    * uniformly-written lake repairs them with one Spark job, not 10^3. */
  private[graft] def repairDirManifests(spark: SparkSession,
                                        dirs: Seq[Path]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    final case class Layout(sketchCols: Seq[String], sketchM: Int,
                            bloomCols: Seq[String], bloomHashes: Int,
                            bloomBits: Int, sumCols: Seq[String]) {
      def isEmpty: Boolean =
        sketchCols.isEmpty && bloomCols.isEmpty && sumCols.isEmpty
    }
    final case class Pend(dir: Path, man: Manifest,
                          kept: Seq[FileStatus], fresh: Seq[FileStatus],
                          layout: Layout)
    val pend = scala.collection.mutable.ArrayBuffer.empty[Pend]
    dirs.distinct.foreach { dir =>
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        val files = dataFilesIn(fs, dir)
        if (files.isEmpty) {
          // a dir a mutation fully emptied KEEPS its manifest with an
          // empty file map: the schema must survive "DELETE everything"
          // so the next read still plans (empty, correctly typed) and
          // the next upsert still knows the layout
          readManifest(fs, dir) match {
            case Some(man) => writeManifestFile(fs, dir, man.schema, Nil)
            case None =>
              val p = new Path(dir, ManifestName)
              if (fs.exists(p)) { fs.delete(p, false); () }
          }
        } else readManifest(fs, dir) match {
          case None => writeManifest(spark, dir.toString)
          case Some(man) =>
            val (kept, fresh) = files.partition(st =>
              man.files.get(st.getPath.getName).exists(_.len == st.getLen))
            // stats layout inferred from the old entries (union across
            // files — a file may legitimately omit a sum on overflow)
            val entries = man.files.values.toSeq
            val layout = Layout(
              entries.flatMap(_.sketches.keys).distinct.sorted,
              entries.flatMap(_.sketches.values.map(_.length))
                .headOption.getOrElse(256),
              entries.flatMap(_.blooms.keys).distinct.sorted,
              entries.flatMap(_.blooms.values)
                .collectFirst { case w if w.nonEmpty => w(0).toInt }
                .getOrElse(4),
              entries.flatMap(_.blooms.values)
                .collectFirst { case w if w.length > 1 => (w.length - 1) * 64 }
                .getOrElse(8192),
              entries.flatMap(_.sums.keys).distinct.sorted)
            pend += Pend(dir, man, kept, fresh, layout)
        }
      }
    }
    // one stats job per distinct layout, across every pending dir's fresh
    // files (explicit merged schema: an evolved file missing a stats
    // column reads NULL, contributing nothing — as the per-dir pass did);
    // distinct layouts are INDEPENDENT jobs over disjoint file sets
    val layoutGroups = pend.toSeq.filter(p =>
        p.fresh.nonEmpty && !p.layout.isEmpty)
      .groupBy(_.layout).toSeq
    def statsOf(lay: Layout, ps: Seq[Pend]) = {
      val paths = ps.flatMap(_.fresh).map(_.getPath.toString)
      val schema = ps.map(_.man.schema).reduce { (a, b) =>
        StructType(a.fields ++
          b.fields.filterNot(f => a.fieldNames.contains(f.name)))
      }
      lay -> statsPass(spark.read.schema(schema).parquet(paths: _*),
        schema, lay.sketchCols, lay.sketchM, lay.bloomCols, lay.bloomBits,
        lay.bloomHashes, lay.sumCols)
    }
    // every pending dir's FRESH footer envelopes harvest driver-side while
    // the stats jobs run on the cluster — independent inputs (the files
    // are already written), so the footer sweep hides behind the stats
    // jobs instead of serializing after them inside the per-dir loop below
    val (freshEnvsAll, statsByLayout) = graft.DriverPool.pair(
      () => envelopesAll(pend.toSeq.flatMap(_.fresh).map(st => (st, Nil)),
        conf),
      () => graft.DriverPool.run(4)(layoutGroups.map { case (lay, ps) =>
        () => statsOf(lay, ps) }).toMap)
    pend.foreach { p =>
      val fs = p.dir.getFileSystem(conf)
      val stats = statsByLayout.getOrElse(p.layout,
        Map.empty[String, (Map[String, Array[Long]],
          Map[String, Array[Long]], Map[String, BigDecimal])])
      val keptEntries = p.kept.map { st =>
        val e = p.man.files(st.getPath.getName)
        st.getPath.getName -> FileEnvelope(st, e.rowGroups, e.cols, Nil,
          e.rows, e.nulls, e.sketches, e.blooms, e.sums)
      }
      val freshEntries = p.fresh.map { st =>
        val env = freshEnvsAll(st.getPath)
        val (sk, bl, sm) = stats.getOrElse(st.getPath.toUri.getPath,
          (Map.empty[String, Array[Long]], Map.empty[String, Array[Long]],
            Map.empty[String, BigDecimal]))
        st.getPath.getName -> env.copy(sketches = sk, blooms = bl, sums = sm)
      }
      writeManifestFile(fs, p.dir, p.man.schema,
        (keptEntries ++ freshEntries).sortBy(_._1))
    }
  }

  /** Partition column names seen in the listed files' paths. */
  private def partitionColsOf(
      files: Seq[(FileStatus, Seq[(String, String)])]): Seq[String] =
    files.headOption.map(_._2.map(_._1)).getOrElse(Nil)

  private def writeManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, schema: StructType,
      entries: Seq[(String, FileEnvelope)]): Unit = {
    // relax to nullable (recursively): files written by OTHER windows of an
    // evolved lake legitimately lack newer columns, and the vectorized
    // reader refuses a missing column unless the read schema allows null —
    // the same relaxation Spark's own mergeSchema applies
    def nullable(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullable(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = nullable(m.valueType), valueContainsNull = true)
      case x => x
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = om.createObjectNode()
    rootNode.put("version", 1)
    rootNode.put("schema", nullable(schema).asInstanceOf[StructType].toDDL)
    val filesNode = rootNode.putObject("files")
    entries.foreach { case (name, fe) => putEntry(filesNode, name, fe); () }
    val tmp = new Path(dir, s".$ManifestName.tmp")
    val out = fs.create(tmp, true)
    try out.write(om.writeValueAsBytes(rootNode)) finally out.close()
    val dst = new Path(dir, ManifestName)
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not publish manifest at $dst")
    }
  }

  /** Serialize one file's stats entry under `filesNode` — the shared
    * format of per-dir manifests, the consolidated root manifest, and
    * [[Snapshots]]' pinned file lists. Returns the entry node so callers
    * can attach extra fields (a snapshot adds `mtime`). */
  private[sources] def putEntry(
      filesNode: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, fe: FileEnvelope)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val f = filesNode.putObject(name)
    f.put("len", fe.status.getLen)
    f.put("rowGroups", fe.rowGroups)
    f.put("rows", fe.rows)
    val cols = f.putObject("cols")
    fe.cols.toSeq.sortBy(_._1).foreach { case (c, ce) =>
      val cn = cols.putObject(c)
      (ce.lo, ce.hi) match {
        case (lo: BigDecimal, hi: BigDecimal) =>
          cn.put("t", "n"); cn.put("lo", lo.toString); cn.put("hi", hi.toString)
        case (lo: String, hi: String) =>
          cn.put("t", "s"); cn.put("lo", lo); cn.put("hi", hi)
        case _ => // unserializable envelope: omit (conservative on read)
          cols.remove(c); ()
      }
    }
    val nulls = f.putObject("nulls")
    fe.nullCounts.toSeq.sortBy(_._1).foreach { case (c, n) =>
      nulls.put(c, n); ()
    }
    if (fe.sketches.nonEmpty) {
      val sk = f.putObject("sketches")
      fe.sketches.toSeq.sortBy(_._1).foreach { case (c, regs) =>
        val arr = sk.putArray(c)
        regs.foreach(arr.add)
      }
    }
    if (fe.blooms.nonEmpty) {
      val bl = f.putObject("blooms")
      fe.blooms.toSeq.sortBy(_._1).foreach { case (c, words) =>
        val arr = bl.putArray(c)
        words.foreach(arr.add)
      }
    }
    if (fe.sums.nonEmpty) {
      val sm = f.putObject("sums")
      fe.sums.toSeq.sortBy(_._1).foreach { case (c, v) =>
        sm.put(c, v.toString); ()
      }
    }
    f
  }

  /** Parse one entry written by [[putEntry]]. */
  private[sources] def parseEntry(
      f: com.fasterxml.jackson.databind.JsonNode): ManifestEntry = {
    val cols = f.path("cols").fields().asScala.map { c =>
      val cn = c.getValue
      val (lo: Any, hi: Any) = cn.path("t").asText() match {
        case "n" => (BigDecimal(cn.path("lo").asText()),
          BigDecimal(cn.path("hi").asText()))
        case _ => (cn.path("lo").asText(), cn.path("hi").asText())
      }
      c.getKey -> ColEnvelope(lo, hi)
    }.toMap
    val nulls = f.path("nulls").fields().asScala.map { n =>
      n.getKey -> n.getValue.asLong()
    }.toMap
    val sketches = f.path("sketches").fields().asScala.map { s =>
      s.getKey -> s.getValue.elements().asScala.map(_.asLong()).toArray
    }.toMap
    val blooms = f.path("blooms").fields().asScala.map { s =>
      s.getKey -> s.getValue.elements().asScala.map(_.asLong()).toArray
    }.toMap
    val sums = f.path("sums").fields().asScala.map { s =>
      s.getKey -> BigDecimal(s.getValue.asText())
    }.toMap
    ManifestEntry(f.path("len").asLong(), f.path("rowGroups").asInt(),
      f.path("rows").asLong(-1L), cols, nulls, sketches, blooms, sums)
  }

  private[sources] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           dir: Path): Option[Manifest] = {
    val p = new Path(dir, ManifestName)
    if (!fs.exists(p)) return None
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val in = fs.open(p)
      val node = try om.readTree(in) finally in.close()
      if (node.path("version").asInt(-1) != 1) return None
      val schema = StructType.fromDDL(node.path("schema").asText())
      val files = node.path("files").fields().asScala.map { e =>
        e.getKey -> parseEntry(e.getValue)
      }.toMap
      Some(Manifest(schema, files))
    } catch {
      case scala.util.control.NonFatal(_) => None // corrupt: harvest footers
    }
  }

  private[sources] def envelopeOf(st: FileStatus, parts: Seq[(String, String)],
                         conf: org.apache.hadoop.conf.Configuration)
      : FileEnvelope = {
    {
      footerOpens.incrementAndGet()
      val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        // Spark stamps this key on files written under LEGACY datetime
        // rebase: their raw int64/int32 date-time values are julian-based
        // and do NOT equal the proleptic values Spark reads back, so
        // date/timestamp envelopes from such files would prune wrongly —
        // the same marker Spark's own vectorized reader keys rebase on
        val legacyDateTime = rd.getFooter.getFileMetaData
          .getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime")
        val perChunk: Seq[(String, ColEnvelope)] = for {
          b <- blocks
          c <- b.getColumns.asScala
          env <- chunkEnvelope(c, legacyDateTime)
        } yield c.getPath.toDotString.toLowerCase -> env
        // file envelope = union of its row-group envelopes; a column missing
        // stats in ANY row group gets no file envelope (cannot prune on it)
        val byCol = perChunk.groupBy(_._1).collect {
          case (name, es) if es.size == blocks.size =>
            name -> es.map(_._2).reduce((a, b) =>
              ColEnvelope(minOf(a.lo, b.lo), maxOf(a.hi, b.hi)))
        }
        // null counts: only when every row group reports one for the column
        val perNulls: Seq[(String, Long)] = for {
          b <- blocks
          c <- b.getColumns.asScala
          s = c.getStatistics
          if s != null && s.isNumNullsSet
        } yield c.getPath.toDotString.toLowerCase -> s.getNumNulls
        val nulls = perNulls.groupBy(_._1).collect {
          case (name, es) if es.size == blocks.size =>
            name -> es.map(_._2).sum
        }
        FileEnvelope(st, blocks.size, byCol.toMap, parts,
          blocks.map(_.getRowCount).sum, nulls.toMap)
      } finally rd.close()
    }
  }

  private def chunkEnvelope(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      legacyDateTime: Boolean)
      : Option[ColEnvelope] = {
    val stats = c.getStatistics
    if (stats == null || !stats.hasNonNullValue) return None
    val ann = c.getPrimitiveType.getLogicalTypeAnnotation
    // EXACT numeric envelopes: a Double lane would collapse BIGINTs above
    // 2^53 (hash60-derived ids reach 2^60 in this repo) and could prune a
    // file that holds a matching row — the one unforgivable direction
    def num(v: Any): Option[BigDecimal] = v match {
      case i: java.lang.Integer => Some(BigDecimal(i.intValue))
      case l: java.lang.Long => Some(BigDecimal(l.longValue))
      case f: java.lang.Float if !f.isNaN && !f.isInfinite =>
        Some(BigDecimal.decimal(f.floatValue))
      case d: java.lang.Double if !d.isNaN && !d.isInfinite =>
        Some(BigDecimal(d.doubleValue))
      case _ => None
    }
    val signedInt = ann match {
      case ia: LogicalTypeAnnotation.IntLogicalTypeAnnotation => ia.isSigned
      case _ => false // unsigned annotations: raw stats are misordered
    }
    // TIMESTAMP/DATE: Spark's internal values ARE the raw parquet int64
    // micros-or-nanos / int32 days (no conversion on read, UTC or NTZ
    // alike), so the stats compare exactly against Catalyst literals —
    // EXCEPT for (a) files written under LEGACY julian rebase (marker
    // checked above), whose raw values differ from what Spark reads back,
    // and (b) TIMESTAMP(MILLIS) files (Flink/Hive/Connect writers), which
    // Spark converts to micros on read — their raw stats would be 1000x
    // off and pruning on them would silently drop matching files. MICROS
    // reads unconverted; NANOS is read raw too (nanosAsLong → LongType).
    val dateTime = !legacyDateTime && (ann match {
      case ta: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ta.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
          ta.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
      case _ => false
    })
    (stats.genericGetMin, stats.genericGetMax) match {
      case (lo, hi) if ann == null || signedInt || dateTime =>
        for (l <- num(lo); h <- num(hi)) yield ColEnvelope(l, h)
      case (lo: Binary, hi: Binary)
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(ColEnvelope(lo.toStringUsingUTF8, hi.toStringUsingUTF8))
      case _ => None // decimal annotations: stats not comparable here
    }
  }

  private def minOf(a: Any, b: Any): Any = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.min(y)
    case (x: String, y: String) => if (x <= y) x else y
    case _ => a
  }
  private def maxOf(a: Any, b: Any): Any = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.max(y)
    case (x: String, y: String) => if (x >= y) x else y
    case _ => a
  }

  /** Catalyst literal → envelope-comparable value (numerics exact). */
  private def litVal(v: Any): Option[Any] = v match {
    case null => None
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float if !f.isNaN && !f.isInfinite => Some(BigDecimal.decimal(f))
    case d: Double if !d.isNaN && !d.isInfinite => Some(BigDecimal(d))
    case d: Decimal => Some(d.toBigDecimal)
    case s: UTF8String => Some(s.toString)
    case _ => None
  }

  /** Unsigned UTF-8 byte order — the order parquet computes string
    * min/max stats in (and UTF8String compares by). Java's String
    * compareTo is UTF-16 code-unit order, which DISAGREES above the BMP
    * (supplementary characters sort below U+E000..U+FFFF there): deciding
    * a prune in a different order than the stats were computed in is how
    * a file with matching rows gets skipped. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private[graft] def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) => Some(utf8Cmp(x, y))
    case _ => None
  }

  /** Canonical comparison key for a boxed internal value — [[litVal]]'s
    * BigDecimal/String domain, where [[cmp]] is total. Used by the typed
    * partition lane in [[graft.plans.TopKFilePrune]]. */
  private[graft] def litCanon(v: Any): Option[Any] = litVal(v)

  /** The least string strictly greater than EVERY string with prefix `p`,
    * in UTF-8 byte order — i.e. `p`'s byte successor: strip trailing 0xff
    * bytes, then increment the last remaining byte. None when p is all
    * 0xff (no upper bound exists). The result need not be valid UTF-8 —
    * it is only ever compared byte-wise via [[utf8Cmp]]'s byte order, so
    * it is carried as bytes. */
  private def prefixSucc(p: String): Option[Array[Byte]] = {
    val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  private def utf8CmpBytes(a: String, y: Array[Byte]): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Bloom probe for a point predicate: false ONLY when the file carries
    * a write-time bloom for the column and the probe proves the value
    * absent (the bloom's no-false-negative direction — a pruned file can
    * hold no matching row). The literal must render EXACTLY as the write
    * side hashed it (`cast('string')` → `toString`): identity for
    * strings, `Long.toString` for integrals; any other type answers true
    * (keep — float/decimal/date renderings aren't guaranteed to agree
    * with Spark's cast). Array layout is `[numHashes, bitWords…]`. */
  private def bloomMayContain(fe: FileEnvelope, name: String, v: Any): Boolean =
    fe.blooms.get(name.toLowerCase) match {
      case Some(words) if words.length > 1 =>
        val key = v match {
          case s: UTF8String => s.toString
          case _: Byte | _: Short | _: Int | _: Long => v.toString
          case _ => return true
        }
        val k = words(0).toInt
        if (k <= 0) return true
        graft.functions.Kernels.bloomContains(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            java.util.Arrays.copyOfRange(words, 1, words.length)),
          UTF8String.fromString(key), k)
      case _ => true
    }

  /** May any row of the file satisfy `e`? Sound over-approximation: every
    * unsupported shape answers true (keep the file). */
  def mayMatch(e: Expression, fe: FileEnvelope): Boolean = {
    def env(a: AttributeReference): Option[ColEnvelope] =
      fe.cols.get(a.name.toLowerCase)
    // test(attr, lit)(f): false only when stats PROVE no row matches.
    // Float/double columns never prove: spec-compliant external writers
    // (parquet-cpp, Arrow) OMIT NaN from min/max stats while Spark's
    // comparison semantics order NaN above every value — an envelope that
    // excludes the literal can still cover NaN rows the predicate keeps
    // (e.g. `x > lit` with NaN present). Spark-written files happen to be
    // safe (parquet-mr poisons stats to NaN, which litVal/cmp reject), but
    // the lake must stay sound for foreign parquet, so bail to "may".
    def test(a: AttributeReference, l: Any)(
        rule: (ColEnvelope, Any) => Option[Boolean]): Boolean =
      a.dataType == FloatType || a.dataType == DoubleType ||
        (for (ce <- env(a); v <- litVal(l); r <- rule(ce, v)) yield r)
          .getOrElse(true)
    e match {
      // constant conditions appear when a caller substitutes partition
      // values into a predicate and folds ([[graft.sinks.LakeDelete]]):
      // TRUE is satisfied by every row, FALSE/NULL by none ("satisfy" =
      // evaluates to TRUE — SQL's WHERE keeps neither FALSE nor NULL)
      case Literal(v, BooleanType) => v == true
      case And(l, r) => mayMatch(l, fe) && mayMatch(r, fe)
      case Or(l, r) => mayMatch(l, fe) || mayMatch(r, fe)
      // complement through the sound dual: mustMatch(e) = every row makes
      // e TRUE ⇒ no row makes NOT e true. Covers `x <> v` (Spark leaves
      // it as Not(EqualTo)): a constant file (lo = hi = v, zero nulls)
      // proves EqualTo and prunes — the dictionary-page case where a
      // whole file holds one boilerplate value.
      case Not(e1) => !mustMatch(e1, fe)
      case IsNull(a: AttributeReference) =>
        // prunable only with a KNOWN zero null count
        fe.nullCounts.get(a.name.toLowerCase).forall(_ > 0L)
      case IsNotNull(a: AttributeReference) =>
        // prunable only when the column is KNOWN all-null
        fe.rows < 0L ||
          fe.nullCounts.get(a.name.toLowerCase).forall(_ < fe.rows)
      case EqualTo(a: AttributeReference, Literal(v, _)) =>
        test(a, v)((ce, x) =>
          for (cl <- cmp(x, ce.lo); ch <- cmp(x, ce.hi)) yield cl >= 0 && ch <= 0) &&
          bloomMayContain(fe, a.name, v)
      // flipped operand order keeps the ORIGINAL Literal node — rebuilding
      // one from the raw internal value throws for types Literal.apply
      // does not recognize (UTF8String, struct/array internals)
      case EqualTo(l: Literal, a: AttributeReference) =>
        mayMatch(EqualTo(a, l), fe)
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        test(a, v)((ce, x) => cmp(ce.hi, x).map(_ > 0))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        test(a, v)((ce, x) => cmp(ce.hi, x).map(_ >= 0))
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        test(a, v)((ce, x) => cmp(ce.lo, x).map(_ < 0))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        test(a, v)((ce, x) => cmp(ce.lo, x).map(_ <= 0))
      // flipped operand order: lit OP attr == attr FLIP(OP) lit
      case GreaterThan(l: Literal, a: AttributeReference) =>
        mayMatch(LessThan(a, l), fe)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        mayMatch(LessThanOrEqual(a, l), fe)
      case LessThan(l: Literal, a: AttributeReference) =>
        mayMatch(GreaterThan(a, l), fe)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        mayMatch(GreaterThanOrEqual(a, l), fe)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v =>
          mayMatch(EqualTo(a, v.asInstanceOf[Literal]), fe))
      // the optimizer's large-IN form (In → InSet past
      // spark.sql.optimizer.inSetConversionThreshold, default 10) — the
      // shape every join-driven key list arrives in
      // ([[graft.operators.DynamicPrune]]). Members are raw INTERNAL values
      // (UTF8String, Long), which is exactly what the EqualTo lane's
      // destructured Literal carries — so each member reuses the envelope +
      // bloom point test verbatim. A null member never makes the predicate
      // TRUE (x = NULL is UNKNOWN), so nulls are skipped, not kept-for.
      // Linear in the set with early exit; DynamicPrune caps the sets it
      // plants, and a foreign oversized set only costs planning time.
      case InSet(a: AttributeReference, vs) =>
        vs.exists(v => v != null && mayMatch(EqualTo(a, Literal(v, a.dataType)), fe))
      // prefix predicate (`domain LIKE 'x%'` / startswith): a file may hold
      // a string with prefix p iff its [lo, hi] envelope intersects
      // [p, succ(p)) in UTF-8 byte order — hi >= p AND lo < succ(p)
      case StartsWith(a: AttributeReference, Literal(v, _)) =>
        (for {
          ce <- env(a)
          p <- litVal(v)
          ps <- Some(p).collect { case s: String => s }
          lo <- Some(ce.lo).collect { case s: String => s }
          hi <- Some(ce.hi).collect { case s: String => s }
        } yield utf8Cmp(hi, ps) >= 0 &&
          prefixSucc(ps).forall(u => utf8CmpBytes(lo, u) < 0)
        ).getOrElse(true)
      case _ => true
    }
  }

  /** Must EVERY row of the file satisfy `e`? Sound under-approximation —
    * the dual of [[mayMatch]]: every unsupported shape answers false
    * (cannot prove). Comparisons require the whole envelope inside the
    * predicate range AND a known ZERO null count (a null row fails a
    * null-rejecting predicate). [[graft.plans.TopKFilePrune]] uses this to
    * count a file's rows toward the top-k bound under a data filter:
    * over-claiming here would prune files that still hold top-k rows, so
    * false is always the safe answer. */
  def mustMatch(e: Expression, fe: FileEnvelope): Boolean = {
    def env(a: AttributeReference): Option[ColEnvelope] =
      fe.cols.get(a.name.toLowerCase)
    def zeroNulls(a: AttributeReference): Boolean =
      fe.rows == 0L || fe.nullCounts.get(a.name.toLowerCase).contains(0L)
    // proof(attr, lit)(rule): true only when stats PROVE every row matches.
    // Float/double columns never prove (dual of mayMatch's bail): an
    // external writer's envelope omits NaN, so [lo, hi] inside the range
    // does not cover NaN rows — which FAIL ordered predicates under
    // Spark's semantics. Claiming "all rows match" here would let
    // TopKFilePrune count NaN rows toward the top-k bound and prune files
    // still holding true top-k rows.
    def proof(a: AttributeReference, l: Any)(
        rule: (ColEnvelope, Any) => Option[Boolean]): Boolean =
      a.dataType != FloatType && a.dataType != DoubleType &&
        zeroNulls(a) &&
        (for (ce <- env(a); v <- litVal(l); r <- rule(ce, v)) yield r)
          .getOrElse(false)
    e match {
      // dual of mayMatch's constant lane: every row trivially satisfies
      // TRUE; no row satisfies FALSE or NULL
      case Literal(v, BooleanType) => v == true
      case And(l, r) => mustMatch(l, fe) && mustMatch(r, fe)
      case Or(l, r) => mustMatch(l, fe) || mustMatch(r, fe)
      // every row makes NOT e true ⇔ every row makes e FALSE — which is
      // !mayMatch(e) (no row satisfies) PLUS zero nulls on every column e
      // reads: a null input makes e UNKNOWN, and NOT UNKNOWN is UNKNOWN,
      // not TRUE, so an all-null column would break the claim even though
      // mayMatch(e) is false
      case Not(e1) =>
        e1.references.toSeq.forall {
          case a: AttributeReference => zeroNulls(a)
          case _ => false
        } && !mayMatch(e1, fe)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        // provable only for a CONSTANT file: lo = hi = some member
        vs.exists(v => mustMatch(EqualTo(a, v.asInstanceOf[Literal]), fe))
      case InSet(a: AttributeReference, vs) => // dual of mayMatch's lane
        vs.exists(v => v != null && mustMatch(EqualTo(a, Literal(v, a.dataType)), fe))
      case IsNotNull(a: AttributeReference) => zeroNulls(a)
      case IsNull(a: AttributeReference) =>
        fe.rows == 0L || fe.nullCounts.get(a.name.toLowerCase)
          .exists(n => n == fe.rows && fe.rows >= 0L)
      case EqualTo(a: AttributeReference, Literal(v, _)) =>
        proof(a, v)((ce, x) =>
          for (cl <- cmp(ce.lo, x); ch <- cmp(ce.hi, x)) yield cl == 0 && ch == 0)
      // flipped operand order keeps the ORIGINAL Literal node (see mayMatch)
      case EqualTo(l: Literal, a: AttributeReference) =>
        mustMatch(EqualTo(a, l), fe)
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        proof(a, v)((ce, x) => cmp(ce.lo, x).map(_ > 0))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        proof(a, v)((ce, x) => cmp(ce.lo, x).map(_ >= 0))
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        proof(a, v)((ce, x) => cmp(ce.hi, x).map(_ < 0))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        proof(a, v)((ce, x) => cmp(ce.hi, x).map(_ <= 0))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        mustMatch(LessThan(a, l), fe)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        mustMatch(LessThanOrEqual(a, l), fe)
      case LessThan(l: Literal, a: AttributeReference) =>
        mustMatch(GreaterThan(a, l), fe)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        mustMatch(GreaterThanOrEqual(a, l), fe)
      case StartsWith(a: AttributeReference, Literal(v, _)) =>
        zeroNulls(a) && (for {
          ce <- env(a)
          p <- litVal(v).collect { case s: String => s }
          lo <- Some(ce.lo).collect { case s: String => s }
          hi <- Some(ce.hi).collect { case s: String => s }
          // the prefix-p set IS the byte-order interval [p, succ(p)):
          // lo and hi both inside it puts every value between them inside
        } yield lo.startsWith(p) && hi.startsWith(p)
        ).getOrElse(false)
      case _ => false
    }
  }

  /** The pruning [[FileIndex]]. Hive-style `col=value` directories become
    * STRING partition columns: partition filters prune whole directories
    * exactly, footer stats prune the surviving files — partition pruning
    * and stat pruning compose on the lake's own `win=` layout. `lastPrune`
    * records (kept, total) of the most recent planning pass. */
  final class StatsFileIndex(root: Path, fes0: Seq[FileEnvelope],
      /** Write-time data schema from the lake's manifests; None when some
        * file lacked manifest coverage (read falls back to one footer). */
      manifestSchema0: Option[StructType] = None,
      /** Set when this index plans a pinned SNAPSHOT rather than the live
        * lake — SQL DML ([[graft.plans.GraftDml]]) refuses such targets:
        * a DELETE through a time-travel view would mutate the live lake
        * the reader explicitly asked not to see. */
      val snapshotTag: Option[String] = None,
      /** Re-harvest hook: present on live-lake indexes built by [[index]],
        * absent on pinned sets (snapshots, tail batches, derived pruned
        * indexes). `REFRESH TABLE` on a `USING zlake` view reaches
        * [[refresh]] through Spark's own plan.refresh() walk, so SQL
        * views see journaled mutations after the standard refresh verb —
        * parquet-parity semantics (an unrefreshed view stays pinned). */
      refresher: Option[() => (Seq[FileEnvelope], Option[StructType])] = None,
      /** Layout for an EMPTY file set (a lake a mutation fully emptied):
        * the partition columns the directory tree names, so the empty
        * read still exposes them. */
      partitionColsOverride: Seq[String] = Nil)
      extends FileIndex {
    @volatile private var state: (Seq[FileEnvelope], Option[StructType]) =
      (fes0, manifestSchema0)
    def fes: Seq[FileEnvelope] = state._1
    def manifestSchema: Option[StructType] = state._2
    val lastPrune = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, fes.size))
    /** Partition column names (lowercase), from the first file's path. */
    val partitionCols: Seq[String] =
      fes.headOption.map(_.partitionValues.map(_._1))
        .getOrElse(partitionColsOverride)
    override def rootPaths: Seq[Path] = Seq(root)
    override def partitionSchema: StructType =
      StructType(partitionCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType, nullable = true)))
    override def inputFiles: Array[String] =
      fes.map(_.status.getPath.toString).toArray
    override def refresh(): Unit =
      refresher.foreach { f => state = f() }
    override def sizeInBytes: Long = fes.map(_.status.getLen).sum

    /** Exact partition-filter evaluation against one directory's values;
      * filters referencing non-partition attributes keep the directory.
      * Eval failures PROPAGATE: Spark's FileSourceStrategy strips
      * partition-only filters from the post-scan filters on the assumption
      * that listFiles enforced them exactly, so swallowing an error here
      * (e.g. an ANSI cast failing on a non-numeric directory value) would
      * silently return rows with the partition filter unapplied — native
      * Spark raises that cast error, and so do we. */
    private def partMatch(e: Expression, row: InternalRow): Boolean = {
      val bound = e.transform {
        case a: AttributeReference =>
          val i = partitionCols.indexOf(a.name.toLowerCase)
          if (i < 0) return true // references something else: keep
          BoundReference(i, org.apache.spark.sql.types.StringType,
            nullable = true)
      }
      bound.eval(row) == true
    }

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val groups = fes.groupBy(_.partitionValues).toSeq.sortBy(_._1.toString)
      var kept = 0
      val dirs = groups.flatMap { case (parts, group) =>
        val row = InternalRow.fromSeq(
          parts.map(p => UTF8String.fromString(p._2)))
        if (!partitionFilters.forall(f => partMatch(f, row))) None
        else {
          val files = group.filter(fe => dataFilters.forall(mayMatch(_, fe)))
          kept += files.size
          if (files.isEmpty) None
          else Some(PartitionDirectory(row, files.map(_.status).toArray))
        }
      }
      lastPrune.set((kept, fes.size))
      dirs
    }
  }

  def index(spark: SparkSession, path: String): StatsFileIndex = {
    val h = harvest(spark, path)
    new StatsFileIndex(new Path(path), h.fes, h.schema,
      refresher = Some { () =>
        val h2 = harvest(spark, path); (h2.fes, h2.schema)
      },
      partitionColsOverride =
        if (h.fes.isEmpty) dirPartitionCols(spark, path) else Nil)
  }

  /** The lake as a DataFrame: a parquet read through the stats-pruning
    * index, with identical rows to `spark.read.parquet(path)` (plus
    * string-typed partition columns for a Hive-layout lake), but predicates
    * prune partitions AND files at planning time. On a manifest-covered
    * lake, planning touches ZERO parquet footers and starts no Spark job
    * (the schema rides the manifest); each file no manifest covers costs
    * one footer open, and the schema then comes from a schema-inference
    * job over the first file ([[relationWith]]). Any merge-on-read deletion
    * vectors ([[graft.sinks.DeletionVectors]]) are applied (an anti-join
    * that costs nothing when the lake carries none, which is the steady
    * state: vectors exist only between a `deleteMoR` and its `compact`). */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.sinks.DeletionVectors.applyTo(spark, path,
      readWith(spark, path, index(spark, path)))

  def readWith(spark: SparkSession, path: String,
               idx: StatsFileIndex): DataFrame =
    PlanBridge.dataFrame(spark, LogicalRelation(relationWith(spark, path, idx)))

  /** The stats-pruning lake as a Spark `BaseRelation` — the object
    * [[ZLakeSource]] serves for `spark.read.format("zlake")` and
    * `CREATE ... USING zlake` (same relation [[readWith]] wraps). */
  def relationWith(spark: SparkSession, path: String,
                   idx: StatsFileIndex): HadoopFsRelation = {
    // data schema: write-time manifest schema when every file is covered;
    // otherwise one footer via the FIRST file (partition dirs carry no
    // parquet columns — documented uniform-schema assumption on the
    // fallback path; heterogeneous lakes get the merged manifest schema)
    val dataSchema = idx.manifestSchema.getOrElse {
      idx.inputFiles.headOption
        .map(f => spark.read.parquet(f).schema)
        .getOrElse(spark.read.parquet(path).schema)
    }
    // a bucket sidecar surfaces the layout as a BucketSpec: the scan then
    // reports HashPartitioning(cols, n), joins/aggs on the key drop their
    // exchanges, and equality filters prune whole buckets. Sort columns =
    // bucket columns (bucketedLakeWrite sorts within buckets); Spark
    // honors the ordering only where a bucket holds a single file.
    val bucketSpec = bucketInfo(
      new Path(path).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(path)).map(b =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(
        b.numBuckets, b.cols, b.cols))
    HadoopFsRelation(idx, idx.partitionSchema, dataSchema, bucketSpec,
      new ParquetFileFormat, Map.empty[String, String])(spark)
  }
}
