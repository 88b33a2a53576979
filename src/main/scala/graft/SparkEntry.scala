package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Sessions that read `events.parquet` (TIMESTAMP_NANOS) must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` — [[GraftSession.configure]]
  * applies it plus the local-mode tuning; [[Verify]]/[[Bench]] go through it.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.byName("q01_pricing_summary").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.combined.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Queries.combined.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}

/** Shared session tuning for local runs (Verify / Bench / tests). */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // events.ts is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false);
      // read it as TimestampType (not NTZ) so unix_micros applies and the
      // UTC session renders the same instants DuckDB's naive TIMESTAMP does
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // write ANNOTATED int64 micros, not legacy INT96: annotated
      // timestamps carry ordered parquet stats, which is what gives lake
      // timestamp columns their file envelopes (time-range pruning,
      // ORDER BY ts DESC LIMIT k, zero-scan min/max — TimeEnvelopeSpec);
      // INT96 files read fine but stay conservatively unpruned
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // room for one DNS window's generated classes: 136 at warm-up and
      // 77-92 per steady window (windowbench stream_trickle, 4 CPUs). At
      // Spark's default of 100 the LRU evicts a window's own classes before
      // the next window reuses them, and each window recompiled ~80 (~1 s
      // of compile); with room, a steady window compiles only the 12-13
      // classes its literals change. Static: read once per JVM.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the engine's SQL surface is default-on: graft_* functions plus the
      // BETWEEN-join planner strategy (production wiring would set the same
      // key in spark-defaults.conf)
      .config("spark.sql.extensions", "graft.GraftExtensions")
}
