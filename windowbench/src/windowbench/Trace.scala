package windowbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work done under one job group: the deterministic counts that host noise
  * cannot move, plus executor CPU. */
final class Work {
  val jobs, stages, tasks, cpuNs, shuffleReadBytes, shuffleWriteBytes,
      inputBytes, inputRecords = new AtomicLong
  def add(o: Work): Unit = Seq(jobs -> o.jobs, stages -> o.stages,
    tasks -> o.tasks, cpuNs -> o.cpuNs, shuffleReadBytes -> o.shuffleReadBytes,
    shuffleWriteBytes -> o.shuffleWriteBytes, inputBytes -> o.inputBytes,
    inputRecords -> o.inputRecords).foreach { case (a, b) => a.addAndGet(b.get) }
  def shuffleMb: Double = (shuffleReadBytes.get + shuffleWriteBytes.get) / 1e6
}

/** The benchmark's one SparkListener. Each job is attributed to the job
  * group that was set on the thread that submitted it (Spark copies the
  * thread's local properties into the job, and threads created inside a
  * call inherit them); its stages and tasks follow the job. */
final class WorkListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()

  def work(group: String): Work = byGroup.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    jobGroup.put(e.jobId, g)
    work(g).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach(endedGroups.add)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    work(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(stageGroup.getOrDefault(e.stageId, ""))
    w.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Waits until the listener has seen a job of `group` end. */
  def awaitEnd(group: String, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedGroups.contains(group) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}

/** One call into a layer: `name` is `layer` or `layer.detail`. */
final case class Span(id: Int, name: String, parent: Int, window: Int,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. `enabled` is the run's `--trace` flag; callers
  * record spans only when it is on. [[group]] is used in untraced runs too,
  * so work can be attributed per window or query there as well. */
final class Tracer(sc: SparkContext, val listener: WorkListener, val enabled: Boolean) {
  private val recorded = mutable.ArrayBuffer[Span]()
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[Integer] { override def initialValue = 0 }
  val t0Ns: Long = System.nanoTime()

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Runs `body` under job group `id` and restores the previous group. */
  def group[T](id: String)(body: => T): T = {
    val keys = Seq(Tracer.GroupKey, Tracer.DescriptionKey)
    val prev = keys.map(sc.getLocalProperty)
    sc.setLocalProperty(keys(0), id)
    sc.setLocalProperty(keys(1), id)
    try body finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Records a span around `body` (a call into one layer) and attributes
    * the jobs it submits to the span's id. */
  def span[T](name: String, window: Int)(body: => T): T = {
    val id = nextId.getAndIncrement().toInt
    val parent = current.get
    current.set(id)
    val start = System.nanoTime()
    try group(s"span-$id")(body)
    finally {
      val end = System.nanoTime()
      current.set(parent)
      recorded.synchronized(recorded += Span(id, name, parent, window, start, end))
    }
  }

  /** Returns once the listener has processed the events of every job that
    * finished before the call: it runs one marker job and waits for its end,
    * which Spark delivers after all earlier events. */
  def quiesce(): Unit = {
    val g = s"barrier-${nextId.getAndIncrement()}"
    group(g)(sc.parallelize(Seq(1), 1).count())
    listener.awaitEnd(g)
  }

  /** Work of a span and all its descendants. */
  def workOf(root: Span): Work = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val total = new Work
    def walk(s: Span): Unit = {
      total.add(listener.work(s"span-${s.id}"))
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    walk(root)
    total
  }

  /** Self time: the span's wall minus the part its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).sortBy(_.startNs)
    var covered = 0L
    var until = s.startNs
    kids.foreach { k =>
      val a = math.max(k.startNs, until); val b = math.min(k.endNs, s.endNs)
      if (b > a) { covered += b - a; until = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** The run's spans as one JSON document. */
  def toJson(extra: Seq[(String, String)]): String = {
    val body = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"window":${s.window},""" +
        f""""start_s":${(s.startNs - t0Ns) / 1e9}%.6f,"end_s":${(s.endNs - t0Ns) / 1e9}%.6f,""" +
        f""""self_s":${selfS(s)}%.6f}"""
    }
    val ex = extra.map { case (k, v) => s""""$k":$v""" }
    (ex :+ s""""spans":[${body.mkString(",\n")}]""").mkString("{", ",\n", "}\n")
  }
}

object Tracer {
  /** Share of a traced window's (or query's) wall its child spans may
    * leave uncovered; above it the window or query counts as failed. */
  val Slack = 0.05
  /** The local properties `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"
}
