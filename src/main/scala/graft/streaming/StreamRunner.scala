package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming orchestration (SURVEY §2.10).
  *
  * The reference abuses a DStream on an empty HDFS dir as a 300-second clock
  * (DnsRptCH.scala:1213-1219) and re-reads files named for the lagging 5-min
  * window. Spark-native: one Structured Streaming file source discovers
  * files itself and the SAME batch function, [[graft.dns.BatchRunner.run]],
  * runs inside `foreachBatch`. A backfill (DnsRptOffline parity) is
  * `BatchRunner.run` over a bounded input, so streaming, backfill and tests
  * share one code path. Checkpointing upgrades the reference's at-most-once
  * (skipped batches, swallowed failures, DnsRptCH.scala:1146-1161) to
  * exactly-once file tracking for free.
  */
object StreamRunner {

  /** Streaming text-line source over a log directory. */
  def rawStream(spark: SparkSession, path: String,
                maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(path).toDF("value")

  /** Periodic lake maintenance wired into the streaming loop — the piece a
    * real streaming lake needs so it does not fragment until someone
    * remembers (the reference's own 300 s cycle is the natural cadence
    * hook, DnsRptCH.scala:1213-1219): at every `every`-th CHECKPOINTED
    * batch id, CLOSED windows (strictly before the batch's minimum window
    * — the open window still receiving appends is never rewritten
    * mid-growth) of each table under `root` are compacted into the
    * z-ordered manifest-covered layout, and each table's root manifest is
    * re-consolidated so planning stays one driver-side read however many
    * windows the lake grows.
    *
    * Cadence durability (r8 verdict #5): the schedule keys off the batch
    * id Structured Streaming itself checkpoints, so a restart resumes the
    * cadence exactly where it stopped (the previous in-memory counter
    * reset on every restart). An EMPTY trigger landing on a cadence point
    * defers that cycle to the next multiple — bounded drift, paid for
    * free durability.
    *
    * The cycle runs on [[worker]], OFF the trigger thread: a compaction
    * pass that outlives the trigger interval delays ingestion zero — the
    * `_compacting/` staging already makes concurrent readers (and the
    * stream's own appends, which only touch the OPEN window) safe. At
    * most one cycle is in flight; a cadence point reached while one runs
    * is skipped, and a FAILED cycle logs and retries at the next cadence
    * — never failing the batch ([[graft.sinks.Sinks.compactLake]]'s
    * recovery pass heals any half-swapped window next time,
    * LakeMaintenanceSpec). */
  final case class LakeMaintenance(root: String, tables: Seq[String],
      colA: String, colB: String, every: Int = 8,
      filesPerPartition: Int = 4, bits: Int = 20,
      stampCol: String = "accesstime",
      sketchCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      sumCols: Seq[String] = Nil) {
    /** Single daemon maintenance worker — one cycle in flight, ever. */
    @transient private[streaming] lazy val worker =
      java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "graft-lake-maintenance")
        t.setDaemon(true); t
      }
    @transient private[streaming] val inFlight =
      new java.util.concurrent.atomic.AtomicReference[
        java.util.concurrent.Future[_]](null)
    /** Block until the current cycle (if any) finishes — shutdown hooks
      * and specs; the streaming loop itself never calls this. */
    def awaitQuiescent(timeoutMs: Long = 120000L): Unit = {
      val f = inFlight.get()
      if (f != null)
        f.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
  }

  /** Test seam: runs at the START of each maintenance cycle, on the
    * maintenance worker thread. LakeMaintenanceSpec parks it on a latch to
    * prove a slow compaction never blocks the trigger thread. */
  private[graft] val maintenanceTestHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** Wire a per-batch report function (the batch code path, reused verbatim)
    * into `foreachBatch` with a processing-time trigger. The caller starts
    * the returned writer (`.start()` / tests use MemoryStream + awaitAny).
    * `maintenance` adds the periodic compact+consolidate cycle above. */
  def reportEvery(facts: DataFrame, interval: String = "5 minutes",
                  checkpoint: String,
                  maintenance: Option[LakeMaintenance] = None)(
      report: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    facts.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // empty-batch skip (reference :1009-1012). Cost: isEmpty is one
        // executeTake(1) job per trigger — a single near-empty task every 5
        // minutes, paid deliberately so the report never runs (and never
        // appends sink rows) for an empty window.
        if (!batch.isEmpty) {
          report(batch, id)
          maintenance.foreach { m =>
            // cadence off the CHECKPOINTED id — durable across restart
            if (id > 0 && id % m.every == 0) {
              // the open-window boundary comes from `batch`, so compute it
              // ON the trigger thread (a foreachBatch frame must not be
              // used after the call returns) before handing off
              val minWin = batch
                .agg(min(date_format(col(m.stampCol),
                  graft.sinks.Sinks.WinFormat)))
                .head().getString(0)
              // all-null stamp column → no boundary: SKIP the cycle. An
              // absent onlyBefore would declare every window closed and
              // rewrite the open one mid-growth (ADVICE r8).
              Option(minWin).foreach { w =>
                val prev = m.inFlight.get()
                if (prev == null || prev.isDone) {
                  val session = batch.sparkSession
                  m.inFlight.set(m.worker.submit(new Runnable {
                    def run(): Unit =
                      try {
                        maintenanceTestHook.get()()
                        m.tables.foreach { t =>
                          graft.sinks.Sinks.compactLake(session,
                            s"${m.root}/$t", m.colA, m.colB,
                            m.filesPerPartition, m.bits,
                            onlyBefore = Some(w),
                            sketchCols = m.sketchCols,
                            bloomCols = m.bloomCols, sumCols = m.sumCols)
                          graft.sources.ZLake.consolidateManifests(
                            session, s"${m.root}/$t")
                        }
                      } catch {
                        case e: Throwable =>
                          // never fail the BATCH for maintenance: log and
                          // let the next cadence re-run — compactLake's
                          // recovery pass heals partial state
                          System.err.println("[lake-maintenance] cycle " +
                            s"failed, retrying next cadence: $e")
                      }
                  }))
                } // else: previous cycle still running — skip, no pileup
              }
            }
          }
        }
      }
  }

  /** CDC sink: each micro-batch of keyed updates MERGEs into an existing
    * z-lake via [[graft.sinks.LakeDelete.upsertLake]] — streaming upsert
    * with exactly-once semantics and NO idempotency key needed: a
    * replayed epoch's delete side removes the previous attempt's inserted
    * rows (their keys ARE the batch's keys) before the insert side lands
    * one fresh copy, so replay converges to a single row per key; a crash
    * INSIDE the merge is healed by the journal recovery the next
    * `upsertLake` call runs first (StreamingUpsertSpec injects both).
    * Contract: `root` holds the initial snapshot (e.g. one
    * [[graft.sinks.Sinks.zorderedWrite]] per partition) before the stream
    * starts; batches carry the lake's partition columns. The batch is
    * materialized once (`localCheckpoint`) because the merge reads it
    * several times (key collect, per-partition splits). */
  def upsertStream(updates: DataFrame, root: String, keyCol: String,
                   checkpoint: String,
                   interval: String = "5 minutes"): DataStreamWriter[Row] =
    updates.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sinks.LakeDelete.upsertLake(batch.sparkSession, root,
            batch.localCheckpoint(true), keyCol)
          upsertTestHook.get()()
        }
      }

  /** Test seam: runs after each [[upsertStream]] micro-batch merge,
    * BEFORE the epoch commits — crash injection for replay tests. */
  private[graft] val upsertTestHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
}
