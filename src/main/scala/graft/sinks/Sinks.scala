package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.DriverPool

/** Sink layer (SURVEY §2.2).
  *
  * K1: the reference appends each report to ClickHouse through one JDBC
  * connection with 100k-row batches and no transaction isolation
  * (ClickUtils.scala:15-33). Same operating point here, expressed as
  * `DataFrameWriter` options inside `foreachBatch` — plus a parquet mode
  * for tests/local runs.
  */
object Sinks {

  /** K1: JDBC append tuned for a columnar OLAP store (batch insert, single
    * writer connection, isolation NONE — ClickUtils.scala:24-27). */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 batchSize: Int = 100000, numPartitions: Int = 1): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize.toString)
      .option("isolationLevel", "NONE")
      .option("numPartitions", numPartitions.toString)
      .jdbc(url, table, new java.util.Properties())

  /** Parquet append (test/local stand-in for K1; also the recommended lake
    * layout at scale: partition by the 5-min bucket for pruning). */
  def parquetAppend(df: DataFrame, path: String,
                    partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** The `win=` directory value format shared by [[lakeAppend]],
    * [[lakeWrite]] and [[graft.streaming.StreamRunner.LakeMaintenance]]'s
    * closed-window cutoff — one constant, so the lexicographic
    * `onlyBefore` comparison can never drift from the written layout. */
  val WinFormat = "yyyyMMdd_HHmm"

  /** Lake layout for a window's report set: every sink table appends under
    * `root/<table>/win=<yyyyMMdd_HHmm>/`, the 5-minute bucket derived from
    * the window stamp BatchRunner puts on each row. Downstream window reads
    * prune to one partition at planning time — the scale replacement for
    * the reference's filename-encoded 10-second files (DnsRptCH.scala:
    * 983-1012); see LakeLayoutSpec. */
  def lakeAppend(tables: Map[String, DataFrame], root: String,
                 stampCol: String = "accesstime"): Unit =
    // per-table appends target disjoint directories, so a six-sink
    // window pays one commit tail, not six
    DriverPool.run(4)(tables.toSeq.sortBy(_._1).map { case (name, df) => () =>
      parquetAppend(
        df.withColumn("win",
          org.apache.spark.sql.functions.date_format(
            org.apache.spark.sql.functions.col(stampCol), WinFormat)),
        s"$root/$name", Seq("win"))
    })

  /** Idempotent lake write for exactly-once streaming: same layout as
    * [[lakeAppend]], but the window stamp is the idempotency key — dynamic
    * partition overwrite replaces ONLY the `win=` partitions present in the
    * incoming data, so a foreachBatch epoch replayed after a crash (sink
    * written, commit log not) converges to one copy per window instead of
    * appending a duplicate. Different windows' partitions are untouched.
    * Exercised under an injected crash in StreamingBatchRunnerSpec.
    *
    * Both branches leave every `win=` directory they commit
    * manifest-covered ([[graft.sources.ZLake.ManifestName]]: per-file
    * envelopes plus the file schema), so [[graft.sources.ZLake.read]] plans
    * with zero footer opens and no schema-inference job. The plain branch
    * collects the windows it wrote through an observation on the write's
    * own pass (no extra job), then writes one stats-less manifest per
    * window. A replay replaces a window's manifest together with its
    * partition. Until then, a crash between a window's data commit and its
    * manifest write leaves it planning through its footers, as do rows
    * with a null stamp (Spark's default partition gets no manifest). Lakes
    * written before windows carried manifests are not migrated: their old
    * windows plan through footers until
    * [[graft.sources.ZLake.consolidateManifests]] (or
    * [[graft.streaming.StreamRunner.LakeMaintenance]]) covers them.
    *
    * `zorderBy = Some((colA, colB))` z-orders WITHIN each `win=` partition:
    * every window's directory gets [[zorderedWrite]]'s deterministic
    * clustered layout plus its stats manifest, so the STREAMING lake gains
    * the same planning-time file skipping the batch z-lake proves (q96) —
    * partition pruning on `win` composes with per-file envelope pruning on
    * the clustered columns. Each window's directory is replaced whole (same
    * idempotency as dynamic overwrite: a replayed epoch rewrites the
    * identical files). The caller feeds window-complete batches, as with
    * the plain path. */
  def lakeWrite(tables: Map[String, DataFrame], root: String,
                stampCol: String = "accesstime",
                zorderBy: Option[(String, String)] = None,
                filesPerWindow: Int = 4,
                zorderBits: Int = 20,
                sketchCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil,
                sumCols: Seq[String] = Nil): Unit =
    // tables are disjoint sink directories; total in-flight jobs stay
    // bounded (outer 2 x inner 4)
    DriverPool.run(2)(tables.toSeq.sortBy(_._1).map { case (name, df) => () =>
      import org.apache.spark.sql.functions.{col, collect_set, date_format}
      val stamped = df.withColumn("win",
        date_format(col(stampCol), WinFormat))
      zorderBy match {
        case None =>
          // fresh per call: table bodies run concurrently
          val written = org.apache.spark.sql.Observation()
          stamped.observe(written, collect_set(col("win")).as("wins"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("win")
            .parquet(s"$root/$name")
          val fileSchema = stamped.drop("win").schema
          written.get("wins").asInstanceOf[scala.collection.Seq[String]]
            .sorted.foreach { w =>
              graft.sources.ZLake.writeManifest(df.sparkSession,
                s"$root/$name/win=$w", Some(fileSchema))
            }
        case Some((a, b)) =>
          // one pass finds the batch's windows, one clustered write each;
          // the input is cached so the per-window filters don't recompute
          // the (possibly expensive) upstream of a foreachBatch DataFrame.
          // sketch/bloom/sum cols ride each window's manifest, so STREAMED
          // windows answer planning-time approx-distinct / point-skip /
          // metadata-sum queries exactly like batch zorderedWrite lakes.
          val cached = stamped.cache()
          // window writes target disjoint directories and are each
          // deterministic
          try DriverPool.run(4)(
            cached.select("win").distinct().collect().map(_.getString(0))
              .sorted.toSeq.map { w => () =>
                zorderedWrite(cached.filter(col("win") === w).drop("win"),
                  a, b, s"$root/$name/win=$w", filesPerWindow, zorderBits,
                  sketchCols = sketchCols, bloomCols = bloomCols,
                  sumCols = sumCols)
              })
          finally { cached.unpersist(); () }
      }
    })

  /** Co-located lake layout for repeated fact/fact joins at scale: bucket +
    * sort both tables by the join key (same bucket count) and joins plan
    * WITHOUT a shuffle exchange on either side (see BucketedJoinSpec). */
  def bucketedTable(df: DataFrame, table: String, path: String,
                    buckets: Int, keys: String*): Unit =
    df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** CATALOG-FREE bucketed lake: the co-located-join layout of
    * [[bucketedTable]] without the Hive metastore a 100 TB multi-cluster
    * lake cannot assume. Rows route to `pmod(murmur3(keys), buckets)` —
    * `repartition(n, cols)` IS `HashPartitioning(cols, n)`, the exact
    * function Spark's own bucketed writes and the read-side `BucketSpec`
    * declare — and every file name carries its bucket id in Spark's
    * `_NNNNN` spelling, so [[graft.sources.ZLake.relationWith]] (and
    * `USING zlake` SQL views) surface the layout as a real `BucketSpec`:
    *  - equi-JOINS of two lakes bucketed the same way on the join key
    *    plan with ZERO shuffle exchanges on either side;
    *  - GROUP BY the key aggregates without an exchange;
    *  - `key = literal` prunes to ONE bucket's files at planning time;
    * all composing with the stats manifest (schema + envelopes + optional
    * blooms/sketches/sums ride the sidecar — planning opens no footers).
    *
    * The contract travels with the PATH (`_graft_buckets.json`), so the
    * lake is append-only while the sidecar exists: journaled appends
    * ([[graft.sinks.LakeDelete.appendLake]] / SQL `INSERT INTO`) route
    * their rows through the same hash and keep the contract; every
    * rewriting mutation fails loud (see
    * [[graft.sinks.LakeDelete.requireNotBucketed]]). Buckets with no rows
    * write no file — Spark's bucketed scan treats a missing bucket as
    * empty. Within each bucket rows sort by (keys, payload) for
    * deterministic bytes; Spark exploits the ordering where a bucket
    * holds one file. */
  def bucketedLakeWrite(df: DataFrame, keys: Seq[String], buckets: Int,
                        path: String,
                        sketchCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        sumCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "bucketedLakeWrite needs at least one key column")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val missing = keys.filterNot(k => df.columns.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty, s"bucket key column(s) not in data: $missing")
    val spark = df.sparkSession
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val payload = df.columns.filterNot(c => keys.exists(_.equalsIgnoreCase(c)))
    df.repartition(buckets, keys.map(col): _*)
      .sortWithinPartitions((keys ++ payload).map(col): _*)
      .write.mode("overwrite").parquet(path)
    retagBuckets(fs, rootPath)
    graft.sources.ZLake.writeBucketInfo(fs, rootPath,
      graft.sources.ZLake.BucketInfo(buckets, keys))
    graft.sources.ZLake.writeManifest(spark, path, Some(df.schema),
      sketchCols = sketchCols, bloomCols = bloomCols, sumCols = sumCols)
  }

  final case class BucketCompactReport(bucketsCompacted: Int,
                                       filesBefore: Int, filesAfter: Int,
                                       dvRowsMaterialized: Long)

  /** BUCKET-PRESERVING compaction — the one maintenance operation an
    * append-only bucketed lake eventually needs: every journaled append
    * adds a file per touched bucket, and a hot bucket accumulates small
    * files with no rewrite path (every generic rewrite refuses via
    * [[LakeDelete.requireNotBucketed]] because pooling rows ACROSS
    * buckets would silently break the co-location contract).
    *
    * This compacts WITHIN buckets: all files of every over-target bucket
    * are read in ONE Spark job, re-routed through the SAME declared hash
    * (`repartition(numBuckets, keys)` — a row can only land back in its
    * own bucket, so co-location is preserved by construction, not by
    * bookkeeping), sorted by (keys, payload) like the original write,
    * and staged under bucket-tagged names the scan parses back. Buckets
    * at or under `targetFilesPerBucket` keep their bytes. The swap rides
    * the standard staged-files + journal + optimistic-commit protocol;
    * `_graft_buckets.json` is untouched, so exchange-free joins and
    * bucket pruning survive (plan-asserted in BucketedLakeSpec).
    *
    * Merge-on-read deletion vectors MATERIALIZE here: a bucketed lake
    * composes with [[DeletionVectors.deleteMoR]] but refuses the generic
    * [[DeletionVectors.compact]] (fresh un-tagged names would break the
    * layout) — this is the path that applies the vectors. A bucket with
    * any vectored file is eligible regardless of file count; rewritten
    * rows drop their deleted positions, the store sheds those files'
    * entries (swapped in the same journal), and once no vectors remain
    * every DV-guarded capability (snapshots of bucketed lakes, tailing,
    * metadata aggregates) reopens. */
  def compactBucketedLake(spark: org.apache.spark.sql.SparkSession,
                          root: String,
                          targetFilesPerBucket: Int = 1)
      : BucketCompactReport = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    require(targetFilesPerBucket >= 1,
      s"targetFilesPerBucket must be >= 1, got $targetFilesPerBucket")
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(fs.exists(rootPath), s"no lake at $root")
    val bucket = graft.sources.ZLake.bucketInfo(fs, rootPath).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a bucketed lake (no ${graft.sources.ZLake.BucketsName})"))
    LakeDelete.recover(spark, root)
    LakeDelete.withConflictRetry("COMPACT(BUCKETS)", fs, rootPath) {
      (txnDir, txnRel) =>
        val idx = graft.sources.ZLake.index(spark, root)
        require(idx.partitionCols.isEmpty,
          "bucketed lakes are flat by construction")
        // the writer's `_NNNNN` spelling (before the extension chain —
        // `..._00003.snappy.parquet`), parsed back exactly like the scan
        val tag = "_(\\d+)$".r
        def bucketIdOf(n: String): Int = {
          val dot = n.indexOf('.')
          val base = if (dot < 0) n else n.substring(0, dot)
          tag.findFirstMatchIn(base).map(_.group(1).toInt).getOrElse(
            throw new IllegalStateException(
              s"bucketed lake holds an untagged file: $n"))
        }
        val byBucket = idx.fes.groupBy(fe =>
          bucketIdOf(fe.status.getPath.getName))
        val oldStores = DeletionVectors.storeFiles(fs, rootPath)
        val dvRows: Map[String, Array[Long]] =
          if (oldStores.isEmpty) Map.empty
          else spark.read.parquet(oldStores.map(_.toString): _*)
            .select(col("file"), col("positions")).collect()
            .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
        def vectored(fe: graft.sources.ZLake.FileEnvelope): Boolean =
          dvRows.get(fe.status.getPath.getName).exists(_.nonEmpty)
        val eligible = byBucket.filter { case (_, fes) =>
          fes.size > targetFilesPerBucket || fes.exists(vectored)
        }
        if (eligible.isEmpty)
          Right(BucketCompactReport(0, idx.fes.size, idx.fes.size, 0L))
        else {
          val files = eligible.values.flatten.toSeq
            .sortBy(_.status.getPath.getName)
          val schema = graft.sources.ZLake.read(spark, root).schema
          val raw = spark.read.schema(schema).option("basePath", root)
            .parquet(files.map(_.status.getPath.toString): _*)
          val cleaned =
            DeletionVectors.applyStore(spark, root, raw, oldStores)
          val payload = schema.fieldNames
            .filterNot(c => bucket.cols.exists(_.equalsIgnoreCase(c)))
          // ONE job: the same hash routing as the original write — rows
          // can only land back in their own bucket's task partition
          val outDir = new Path(txnDir, ".out")
          cleaned.repartition(bucket.numBuckets, bucket.cols.map(col): _*)
            .sortWithinPartitions((bucket.cols ++ payload).map(col): _*)
            .write.mode("overwrite").parquet(outDir.toString)
          val partNum = "^part-(\\d+)-".r
          val runId = java.util.UUID.randomUUID()
          val outFiles =
            graft.sources.ZLake.dataFilesIn(fs, outDir).map(_.getPath)
          val outRows = LakeDelete.footerRowsAll(fs, conf, outFiles)
          val adds = outFiles.flatMap { p =>
              // every repartition task writes a file, including the
              // zero-row tasks of buckets NOT being compacted — those
              // empty files must not land in the lake
              if (outRows(p) == 0L) Nil
              else {
                val b = partNum.findFirstMatchIn(p.getName)
                  .map(_.group(1).toInt).getOrElse(
                    throw new IllegalStateException(
                      s"unparseable ${p.getName}"))
                val name = f"bucketcompact-$runId-$b%05d_$b%05d.parquet"
                require(fs.rename(p, new Path(txnDir, name)),
                  s"could not stage $name")
                Seq(name)
              }
            }
          fs.delete(outDir, true)

          // shed the rewritten files' vectors; keep the others'
          val rewrittenNames = files.map(_.status.getPath.getName).toSet
          val keptVectors = dvRows.filterNot { case (f, _) =>
            rewrittenNames.contains(f)
          }
          val dvMaterialized = dvRows.collect {
            case (f, ps) if rewrittenNames.contains(f) => ps.length.toLong
          }.sum
          val storeAdds =
            if (oldStores.isEmpty || keptVectors.isEmpty) Nil
            else Seq(DeletionVectors.stageStore(spark, fs, txnDir,
              keptVectors.toSeq.sortBy(_._1)))
          def rel(p: Path): String = graft.sources.ZLake.relPath(rootPath, p)
          val dropRels = files.map(fe => rel(fe.status.getPath)) ++
            (if (oldStores.nonEmpty) oldStores.map(rel) else Nil)
          val storeSts = oldStores.map(fs.getFileStatus)
          LakeDelete.stagedHook.get()()
          LakeDelete.commitStaged(spark, fs, rootPath, txnRel, dropRels,
            adds ++ storeAdds, None,
            () => LakeDelete.changedIdentities(fs,
              files.map(_.status) ++ storeSts)) match {
            case Left(c) => Left(c)
            case Right(()) =>
              val d = new Path(rootPath, DeletionVectors.DvDirName)
              if (fs.exists(d) && fs.listStatus(d).isEmpty) {
                fs.delete(d, true); ()
              }
              Right(BucketCompactReport(eligible.size,
                idx.fes.size,
                idx.fes.size - files.size + adds.size, dvMaterialized))
          }
        }
    }
  }

  /** Rename every fresh `part-NNNNN-…` file so its name ends `_NNNNN` —
    * the task partition number of a `repartition(n, keys)` write IS the
    * bucket id (same `pmod(murmur3, n)`), and `BucketingUtils` parses the
    * `_(\d+)` suffix back at scan time. Metadata-only (renames). */
  private def retagBuckets(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val partNum = "^part-(\\d+)-".r
    graft.sources.ZLake.dataFilesIn(fs, root).foreach { st =>
      val name = st.getPath.getName
      partNum.findFirstMatchIn(name).foreach { m =>
        val tagged = name.replaceFirst("\\.", f"_${m.group(1).toInt}%05d.")
        require(fs.rename(st.getPath, new Path(root, tagged)),
          s"could not bucket-tag $name")
      }
    }
  }

  /** Z-order-clustered lake layout: range-partition and sort the table by
    * the Morton interleave of two filter columns, so EVERY output file (and
    * row group) carries a tight min/max envelope on BOTH columns — parquet
    * row-group skipping and file-level stats pruning then work for
    * predicates on either column, which a single-column sort gives to only
    * one of them. The interleave is a pure codegen'd expression
    * ([[graft.functions.KernelExprs.ZOrder2]]); the write is one exchange —
    * the layout cost is paid once, every later scan benefits.
    *
    * DETERMINISTIC layout: the z-range boundaries come from an EXACT
    * histogram over coarse z prefixes (one map-side-combined aggregate, at
    * most 2^16 buckets collected), not from `repartitionByRange`'s sampled
    * boundaries (whose seed follows the JVM's RDD-id sequence — the same
    * input wrote a different file layout every run). The same input now
    * always yields the same files, so downstream results that touch layout
    * (stat pruning, scan metrics) are reproducible run to run; rows are
    * fully sorted inside each file (z first, then every payload column) so
    * even file BYTES are stable. Balance: each file holds one contiguous
    * z-range cut at exact 1/numFiles cumulative-count quantiles of the
    * histogram (bucket-granular; a single z-prefix hotter than a whole
    * stride keeps its rows together — contiguity is what the envelope
    * needs, exact balance is not).
    *
    * Clustering tightness is measured (not assumed) in ZOrderLayoutSpec;
    * the read-side skipping it buys is asserted in ZOrderPruneSpec via
    * [[graft.sources.ZLake]]. A stats MANIFEST (per-file envelopes +
    * schema, [[graft.sources.ZLake.writeManifest]]) is emitted beside the
    * data so reads never re-open footers — at a 100 TB lake the per-query
    * driver-side footer sweep, not the scan, is the planning bottleneck.
    * `writerOptions` pass through to the parquet writer (e.g.
    * `parquet.block.size` to bound row-group size so skipping works at
    * sub-file granularity too). */
  def zorderedWrite(df: DataFrame, colA: String, colB: String,
                    path: String, numFiles: Int, bits: Int = 20,
                    writerOptions: Map[String, String] = Map.empty,
                    sketchCols: Seq[String] = Nil,
                    sketchM: Int = 256,
                    bloomCols: Seq[String] = Nil,
                    bloomBits: Int = 8192,
                    bloomHashes: Int = 4,
                    sumCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.KernelExprs.zorder2(
      col(colA).cast("long"), col(colB).cast("long"), bits)
    zWriteWith(df, z, 2 * bits, path, numFiles, writerOptions,
      sketchCols, sketchM, bloomCols, bloomBits, bloomHashes, sumCols)
  }

  /** Three-column z-order layout: the Morton interleave of THREE filter
    * columns ([[graft.functions.KernelExprs.ZOrder3]]) — the time ×
    * tenant × key clustering a multi-dimension lake wants. Every file
    * carries a tight envelope on ALL THREE columns, so stat pruning works
    * for predicates on any of them (measured in ZOrderPruneSpec; the
    * per-dimension envelopes are necessarily looser than 2-col z-order —
    * the curve spends its locality across three axes). Same deterministic
    * histogram-cut layout, manifest, and read path as [[zorderedWrite]];
    * bits ≤ 20 keeps 3·bits inside a long. */
  def zorderedWrite3(df: DataFrame, colA: String, colB: String, colC: String,
                     path: String, numFiles: Int, bits: Int = 20,
                     writerOptions: Map[String, String] = Map.empty,
                     sketchCols: Seq[String] = Nil,
                     sketchM: Int = 256,
                     bloomCols: Seq[String] = Nil,
                     bloomBits: Int = 8192,
                     bloomHashes: Int = 4,
                     sumCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.KernelExprs.zorder3(
      col(colA).cast("long"), col(colB).cast("long"),
      col(colC).cast("long"), bits)
    zWriteWith(df, z, 3 * bits, path, numFiles, writerOptions,
      sketchCols, sketchM, bloomCols, bloomBits, bloomHashes, sumCols)
  }

  /** Hilbert-clustered layout: identical write pipeline, manifests and
    * read path as [[zorderedWrite]], but files cut from SORTED
    * HILBERT-INDEX ranges ([[graft.functions.Kernels.hilbert2]]). The
    * curve never jumps (consecutive indices are grid neighbors), so each
    * file's index range covers a more compact (a, b) region than the
    * Morton curve's quadrant-seam jumps allow — box predicates keep
    * fewer files at the corners (measured, not assumed:
    * HilbertLayoutSpec pins kept-file counts for both layouts on the
    * same data and box). Drop-in alternative: the manifest stores only
    * per-file column envelopes, so readers, pruning, metadata aggs,
    * snapshots and maintenance are untouched by WHICH curve ordered the
    * rows. */
  def hilbertWrite(df: DataFrame, colA: String, colB: String,
                   path: String, numFiles: Int, bits: Int = 20,
                   writerOptions: Map[String, String] = Map.empty,
                   sketchCols: Seq[String] = Nil,
                   sketchM: Int = 256,
                   bloomCols: Seq[String] = Nil,
                   bloomBits: Int = 8192,
                   bloomHashes: Int = 4,
                   sumCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val h = graft.functions.KernelExprs.hilbert2(
      col(colA).cast("long"), col(colB).cast("long"), bits)
    zWriteWith(df, h, 2 * bits, path, numFiles, writerOptions,
      sketchCols, sketchM, bloomCols, bloomBits, bloomHashes, sumCols)
  }

  /** Shared z-layout write: partition by histogram cuts over `z`'s
    * `zDomainBits`-bit domain, sort within partitions, write + manifest.
    *
    * FUSED stats (optimization guide §1.2 first-principles: 3 full reads →
    * 2): when the manifest carries sketch/bloom/sum stats, they used to be
    * a third full pass (a [[graft.sources.ZLake.writeManifest]] stats job
    * re-reading the just-written files). Every output file is a union of
    * WHOLE z-prefix buckets (the cut algorithm never splits a bucket), and
    * each stat merges exactly across buckets — HLL registers by element
    * max, bloom words by bitwise OR, decimal sums by sum: the q80-proven
    * sketch-merge contract — so the histogram job now computes per-bucket
    * stat partials in the SAME pass (one job, one statically-bounded
    * collect of ≤ 2^16 bucket rows), and per-file stats merge on the
    * DRIVER instead of re-reading the output. Identical manifest bytes:
    * same values per file, same serialization (pinned in SinksSpec). */
  private def zWriteWith(df: DataFrame, z: org.apache.spark.sql.Column,
                         zDomainBits: Int, path: String, numFiles: Int,
                         writerOptions: Map[String, String],
                         sketchCols: Seq[String], sketchM: Int,
                         bloomCols: Seq[String], bloomBits: Int,
                         bloomHashes: Int, sumCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val withZ = df.withColumn("__z", z)
    val sortCols = col("__z") +: df.columns.map(col).toSeq
    val shift = math.max(0, zDomainBits - 16)
    // null z (null cluster columns) sorts below every real prefix
    def zb = coalesce(shiftright(col("__z"), shift), lit(Long.MinValue))
    // worst-case driver bytes for the fused collect are STATIC: ≤ 2^16
    // buckets × (per-bucket stat payload). Pathological stats configs
    // (many wide sketch columns) fall back to the separate stats job
    // rather than risk the driver; every lane in this repo is ≤ a few MB.
    val perBucketBytes = 16L + sketchCols.size.toLong * sketchM * 8L +
      bloomCols.size.toLong * (bloomBits / 8L) + sumCols.size.toLong * 64L
    val fused = (1L << 16) * perBucketBytes <= 256L * 1024 * 1024
    def sumScale(c: String): Int =
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(d: org.apache.spark.sql.types.DecimalType) => d.scale
        case _ => 0
      }
    val statAggs = if (!fused) Nil else
      sketchCols.map(c => graft.functions.KernelAggs
        .hll_registers(col(c).cast("string"), sketchM).as(s"__hll_$c")) ++
      bloomCols.map(c => graft.functions.KernelAggs
        .bloom_sketch(col(c).cast("string"), bloomBits, bloomHashes)
        .as(s"__bloom_$c")) ++
      sumCols.map(c => sum(col(c).cast(s"decimal(38,${sumScale(c)})"))
        .as(s"__sum_$c"))
    // read #1 — ONE job and ONE collect serve both the histogram (cuts)
    // and, when fused, the per-bucket stat partials (merged per file on
    // the driver)
    val rows = withZ.groupBy(zb.as("zb"))
      .agg(count(lit(1)).as("__n"), statAggs: _*)
      .orderBy("zb").collect()
    val hist = rows.map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val single = total == 0 || numFiles <= 1
    val cuts = if (single) Array.emptyLongArray else zCutsOf(hist, numFiles)
    // read #2 — the clustered write (same layout as ever: same histogram,
    // same cuts, same routing)
    val routed =
      if (single) withZ.coalesce(1) else routeByCuts(withZ, zb, cuts)
    routed.sortWithinPartitions(sortCols: _*).drop("__z")
      .write.mode("overwrite").options(writerOptions).parquet(path)
    // per-FILE stats = exact merge of the bucket partials by file id (fid
    // = number of cuts strictly below the bucket — the routing's own rule)
    val precomputed = if (!fused) None else Some {
      val nFiles = cuts.length + 1
      val hllAcc = Array.fill(nFiles)(
        sketchCols.map(_ => new Array[Long](sketchM)))
      val bloomAcc = Array.fill(nFiles)(
        bloomCols.map(_ => new Array[Long](bloomBits / 64)))
      val sumAcc = Array.fill(nFiles)(
        scala.collection.mutable.ArrayBuffer.fill[Option[BigDecimal]](
          sumCols.size)(None))
      rows.foreach { r =>
        val fid = if (single) 0 else cuts.count(_ < r.getLong(0))
        sketchCols.indices.foreach { i =>
          val v = r.getSeq[Long](i + 2)
          val acc = hllAcc(fid)(i)
          var j = 0
          while (j < acc.length) {
            if (v(j) > acc(j)) acc(j) = v(j); j += 1
          }
        }
        bloomCols.indices.foreach { i =>
          val v = r.getSeq[Long](i + 2 + sketchCols.size)
          val acc = bloomAcc(fid)(i)
          var j = 0
          while (j < acc.length) { acc(j) |= v(j); j += 1 }
        }
        sumCols.indices.foreach { i =>
          Option(r.getDecimal(i + 2 + sketchCols.size + bloomCols.size))
            .foreach { d =>
              val cur = sumAcc(fid)(i)
              sumAcc(fid)(i) =
                Some(cur.fold(BigDecimal(d))(_ + BigDecimal(d)))
            }
        }
      }
      val statsByFid: Map[Int, graft.sources.ZLake.FileStats] =
        // empty write: no stats entries, as the stats job over zero rows
        // yields
        if (rows.isEmpty) Map.empty
        else (0 until nFiles).map { f =>
          val regs = sketchCols.zipWithIndex.map { case (c, i) =>
            c.toLowerCase -> hllAcc(f)(i)
          }.toMap
          val blooms = bloomCols.zipWithIndex.map { case (c, i) =>
            c.toLowerCase -> (bloomHashes.toLong +: bloomAcc(f)(i))
          }.toMap
          val sums = sumCols.zipWithIndex.flatMap { case (c, i) =>
            // mimic Spark's sum-overflow → NULL: a merged sum past
            // decimal(38, s) is omitted, as the per-file stats job would
            sumAcc(f)(i)
              .filter(v => v.precision - v.scale <= 38 - sumScale(c))
              .map(v => c.toLowerCase -> v)
          }.toMap
          f -> ((regs, blooms, sums))
        }.toMap
      // fid ↔ written file: a repartition(n, col) task's partition number
      // IS its part-NNNNN file number (and every fid's range holds rows, so
      // the file exists); keyed by URI path exactly like the stats job was
      val conf = spark.sessionState.newHadoopConf()
      val rootP = new org.apache.hadoop.fs.Path(path)
      val fs = rootP.getFileSystem(conf)
      val partNum = "^part-(\\d+)-".r
      graft.sources.ZLake.dataFilesIn(fs, rootP).map(_.getPath).flatMap { p =>
        partNum.findFirstMatchIn(p.getName).map(_.group(1).toInt)
          .flatMap(statsByFid.get).map(p.toUri.getPath -> _)
      }.toMap
    }
    graft.sources.ZLake.writeManifest(spark, path, Some(df.schema),
      sketchCols, sketchM, bloomCols, bloomBits, bloomHashes, sumCols,
      precomputedStats = precomputed)
  }

  /** Cut AFTER the bucket whose cumulative count first reaches the k-th
    * exact quantile; a bucket crossing several quantiles yields one cut
    * (buckets are atomic — the file is larger, never split mid-prefix).
    * The deterministic-layout contract of [[zorderedWrite]]: exact counts,
    * no sampling, so the same input always yields the same cuts. */
  private def zCutsOf(hist: Array[(Long, Long)], numFiles: Int)
      : Array[Long] = {
    val total = hist.map(_._2).sum
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cum = 0L
    var k = 1
    for ((zb, n) <- hist) {
      cum += n
      while (k < numFiles && cum * numFiles >= k.toLong * total &&
          cum < total) {
        if (cuts.isEmpty || cuts.last != zb) cuts += zb
        k += 1
      }
    }
    cuts.toArray
  }

  /** Route rows to `cuts.length + 1` partitions of contiguous z-prefix
    * ranges through Spark's own hash partitioning by pre-images found on
    * the driver (`v` such that `pmod(murmur3(v), n) == fid` — a few probes
    * per file), so the plan stays pure DataFrame API end to end. */
  private def routeByCuts(zf: DataFrame,
                          zb: => org.apache.spark.sql.Column,
                          cuts: Array[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val nParts = cuts.length + 1
    // fid = number of cuts strictly below this row's bucket
    val cutArr = lit(cuts)
    val fid = size(filter(cutArr, c => c < zb))
    // pre-image per fid under HashPartitioning's pmod(murmur3(int), n)
    val preimages = Array.tabulate(nParts) { f =>
      var v = 0
      while (((org.apache.spark.unsafe.hash.Murmur3_x86_32
          .hashInt(v, 42) % nParts) + nParts) % nParts != f) v += 1
      v
    }
    zf.withColumn("__zpv", element_at(lit(preimages), fid + 1))
      .repartition(nParts, col("__zpv"))
      .drop("__zpv")
  }

  /** One partition's compaction outcome. */
  final case class CompactReport(dir: String, filesBefore: Int,
                                 filesAfter: Int, recovered: Boolean)

  /** Small-file compaction for an append-grown lake — the OPTIMIZE step of
    * the ingest pattern "land fast with [[lakeAppend]], compact into the
    * z-ordered stats-pruned layout behind the readers":
    *
    * each `win=` partition directory under `root` holding more than
    * `filesPerPartition` parquet files (or lacking a stats manifest) is
    * rewritten IN PLACE into [[zorderedWrite]]'s deterministic clustered
    * layout + manifest, so the whole lake becomes readable through
    * [[graft.sources.ZLake]] with zero planning-time footer opens and
    * per-file envelope pruning on both cluster columns. Partitions already
    * compact and manifest-covered are skipped, so re-running is a no-op.
    *
    * ATOMIC per partition, crash-safe: the new layout is written under
    * `root/_compacting/<dir>` — a '_'-prefixed path every reader (Spark's
    * InMemoryFileIndex and ZLake alike) ignores — and only when the write
    * AND its manifest are complete does the swap happen: delete the old
    * directory, rename the tmp in (rename is atomic per partition dir).
    * The manifest doubles as the completeness marker: a crash
    *  - mid-write / before the delete leaves the old dir intact; the stale
    *    tmp is discarded and redone on the next run;
    *  - between delete and rename leaves a COMPLETE tmp (manifest present)
    *    and no final dir; the next run renames it in, no data loss, no
    *    recompute.
    * Recovery runs first on every invocation, so a compaction that died at
    * any point heals by simply running compactLake again.
    *
    * At 100 TB: each partition's rewrite is one distributed job over that
    * partition only (the driver loop is per-PARTITION, not per-file — at
    * most one histogram collect of ≤2^16 rows each); different partitions
    * are independent, so a scheduler may shard the partition list across
    * invocations. Readers are never blocked — they see the old files until
    * the atomic swap, the new ones after. */
  def compactLake(spark: org.apache.spark.sql.SparkSession, root: String,
                  colA: String, colB: String, filesPerPartition: Int = 4,
                  bits: Int = 20,
                  onlyBefore: Option[String] = None,
                  sketchCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  sumCols: Seq[String] = Nil): Seq[CompactReport] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    DeletionVectors.requireAbsent(fs, rootPath, "compactLake")
    LakeDelete.requireNotBucketed(fs, rootPath, "compactLake")
    // compaction swaps windows in place: same single-writer contract,
    // same lock, as the journaled mutations
    LakeDelete.withWriterLock(fs, rootPath) {
    val tmpRoot = new Path(rootPath, "_compacting")
    def parquets(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      graft.sources.ZLake.dataFilesIn(fs, dir)
    def hasManifest(dir: Path): Boolean =
      fs.exists(new Path(dir, graft.sources.ZLake.ManifestName))
    // `onlyBefore`: compact only partitions whose VALUE sorts strictly
    // below it — the streaming maintenance hook passes the current batch's
    // minimum window so the OPEN window (still receiving appends from
    // later batches) is never rewritten mid-growth. Recovery below still
    // heals every window unconditionally.
    def closed(dir: Path): Boolean = onlyBefore.forall { b =>
      dir.getName.split("=", 2) match {
        case Array(_, v) => v < b
        case _ => true
      }
    }
    val partDirs = fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        !graft.sources.ZLake.isHidden(st.getPath.getName))
      .map(_.getPath).sortBy(_.getName)
    // loaded once per compaction; lakes without snapshots pay one miss
    lazy val snapRefs =
      graft.sources.Snapshots.snapshotRefs(spark, root)

    // ---- recovery: heal a compaction that died mid-swap ------------------
    // two staging shapes live under _compacting: `<win>` (the complete
    // replacement, pre-swap) and `<win>.old` (the DISPLACED originals,
    // post-swap, awaiting retire). Process tmps first so finalDir state is
    // settled before the .old pass decides between restore and retire.
    val recovered = scala.collection.mutable.Set.empty[String]
    val restored = scala.collection.mutable.Set.empty[String]
    if (fs.exists(tmpRoot)) {
      val (olds, tmps) = fs.listStatus(tmpRoot).toSeq
        .partition(_.getPath.getName.endsWith(".old"))
      tmps.foreach { st =>
        val finalDir = new Path(rootPath, st.getPath.getName)
        if (!fs.exists(finalDir) && hasManifest(st.getPath)) {
          // died between the two swap renames: the tmp IS the window
          require(fs.rename(st.getPath, finalDir),
            s"compaction recovery failed to rename ${st.getPath} to $finalDir")
          recovered += finalDir.getName; ()
        } else {
          // stale or incomplete (no manifest = write never finished): discard
          fs.delete(st.getPath, true); ()
        }
      }
      olds.foreach { st =>
        val winName = st.getPath.getName.stripSuffix(".old")
        val finalDir = new Path(rootPath, winName)
        if (!fs.exists(finalDir)) {
          // swap never completed and its tmp is gone: the originals ARE
          // the window — put them back untouched, and feed the restored
          // (still fragmented) window into THIS run's compaction pass:
          // one compactLake call both heals and finishes the job
          require(fs.rename(st.getPath, finalDir),
            s"compaction recovery failed to restore $finalDir")
          restored += winName; ()
        } else {
          // swap landed: finish the interrupted retire of the originals
          parquets(st.getPath).foreach(p => graft.sources.Snapshots.retireAs(
            fs, rootPath, p, s"$winName/${p.getPath.getName}", snapRefs))
          fs.delete(st.getPath, true); ()
        }
      }
    }

    val dirsNow = (partDirs.filterNot(d =>
        recovered(d.getName) || restored(d.getName)) ++
      (recovered ++ restored).toSeq.sorted.map(new Path(rootPath, _)))
      .sortBy(_.getName)

    // ---- STAGE all eligible windows first, bounded-parallel ------------
    // The per-window zorderedWrite (histogram + clustered write) is the
    // entire cost of a compaction; the swaps below are renames. Windows
    // are independent, so a 100-window maintenance cycle pays max(window)
    // + the scheduler's overlap, not sum(window). Crash mid-staging leaves
    // only tmps the recovery pass discards.
    val toStage = dirsNow.filter { dir =>
      !recovered(dir.getName) && closed(dir) && {
        val before = parquets(dir).size
        before > filesPerPartition || !hasManifest(dir)
      }
    }
    // Stats columns pass through so compaction does not strip the
    // manifest sketches/blooms/sums a stats-carrying lake was written with
    // (the zero-scan queries would silently degrade to scans after the
    // maintenance cycle)
    def stage(dir: Path): Unit = {
      val tmp = new Path(tmpRoot, dir.getName)
      if (fs.exists(tmp)) { fs.delete(tmp, true); () }
      zorderedWrite(spark.read.parquet(dir.toString), colA, colB,
        tmp.toString, filesPerPartition, bits,
        sketchCols = sketchCols, bloomCols = bloomCols,
        sumCols = sumCols)
    }
    DriverPool.run(4)(toStage.map(dir => () => stage(dir)))

    dirsNow.flatMap { dir =>
      val before = parquets(dir).size
      if (recovered(dir.getName))
        Some(CompactReport(dir.toString, before, before, recovered = true))
      else if (!closed(dir)) None
      else if (before <= filesPerPartition && hasManifest(dir)) None
      else {
        val tmp = new Path(tmpRoot, dir.getName)
        // staged above; a window that became eligible between the
        // passes stages here. Both zorderedWrite actions (histogram +
        // write) finish before the swap below touches the source files
        if (!(fs.exists(tmp) && hasManifest(tmp))) stage(dir)
        // SWAP by rename-aside, never delete-in-place: the originals move
        // whole to `_compacting/<win>.old` (one rename — the window is
        // never half-gutted), the replacement renames in, and only THEN
        // are the displaced files retired (snapshot-referenced ones to the
        // trash under their ORIGINAL relative paths, the rest deleted). A
        // crash at any point is healed by the recovery pass above: tmp
        // complete + window missing → swap in; .old + window present →
        // finish retiring; .old + window missing → restore the originals.
        val old = new Path(tmpRoot, dir.getName + ".old")
        if (fs.exists(old)) { fs.delete(old, true); () }
        require(fs.rename(dir, old),
          s"compaction failed to move $dir aside")
        require(fs.rename(tmp, dir),
          s"compaction failed to swap $tmp into $dir — " +
            "the window lives under _compacting until compactLake reruns")
        parquets(old).foreach(p => graft.sources.Snapshots.retireAs(
          fs, rootPath, p, s"${dir.getName}/${p.getPath.getName}", snapRefs))
        fs.delete(old, true)
        Some(CompactReport(dir.toString, before, parquets(dir).size,
          recovered = false))
      }
    }
    }
  }

  /** K2: middle-data text save — ``-separated, `numFiles` output files
    * (reference coalesce(12).saveAsTextFile, DnsRptCH.scala:131-139). */
  def middleData(df: DataFrame, path: String, numFiles: Int = 12): Unit =
    df.coalesce(numFiles).write.mode("overwrite")
      .option("sep", "").csv(path)
}
