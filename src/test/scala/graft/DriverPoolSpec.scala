package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** The driver's one fork-join primitive: every body once, results in
  * order, and a failed call cancels and drains its siblings before the
  * first error propagates. */
class DriverPoolSpec extends AnyFunSuite with SparkSpec {

  private def messages(t: Throwable): Seq[String] = if (t == null) Nil
    else String.valueOf(t.getMessage) +: messages(t.getCause)

  /** Job ids (and their job-group property) of every job started while
    * `body` runs. */
  private def recordingJobs[T](body: ConcurrentHashMap[Int, String] => T): T = {
    val jobs = new ConcurrentHashMap[Int, String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(l)
    try body(jobs) finally spark.sparkContext.removeSparkListener(l)
  }

  test("runs every body exactly once and rethrows a failure") {
    val ran = ConcurrentHashMap.newKeySet[Int]()
    DriverPool.run(3)((0 until 7).map(i => () => {
      assert(ran.add(i), s"body $i ran twice"); ()
    }))
    assert(ran.size == 7)
    val boom = intercept[Exception] {
      DriverPool.run(2)(Seq(
        () => (), () => throw new IllegalStateException("body failed")))
    }
    assert(messages(boom).exists(_.contains("body failed")))
    // degenerate shapes: single body, zero bodies and max <= 1 run inline
    val caller = Thread.currentThread()
    val one = new AtomicInteger(0)
    DriverPool.run(4)(Seq(() => {
      assert(Thread.currentThread() eq caller); one.incrementAndGet()
    }))
    assert(DriverPool.run(4)(Seq.empty[() => Int]).isEmpty)
    DriverPool.run(1)(Seq.fill(3)(() => {
      assert(Thread.currentThread() eq caller); one.incrementAndGet()
    }))
    assert(one.get() == 4)
  }

  test("results come back in body order") {
    // later bodies finish first; the result order is the body order
    val out = DriverPool.run(4)((0 until 8).map(i => () => {
      Thread.sleep((8 - i) * 20L); i * i
    }))
    assert(out == (0 until 8).map(i => i * i))
  }

  test("no body is still running when a failed run returns") {
    val running = new AtomicInteger(0)
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      DriverPool.run(2)(Seq(
        () => { Thread.sleep(200); throw new IllegalStateException("fail") },
        () => {
          running.incrementAndGet()
          try Thread.sleep(3000) finally running.decrementAndGet()
        }))
    }
    assert(running.get() == 0, "a sibling body outlived the failed call")
    assert((System.nanoTime() - t0) / 1e9 < 2.5,
      "the sleeping sibling was waited out, not interrupted")
  }

  test("first error rethrown, siblings' errors suppressed") {
    val secondStarted = new CountDownLatch(1)
    val first = intercept[IllegalStateException] {
      DriverPool.run(3)(Seq(
        () => {
          assert(secondStarted.await(10, TimeUnit.SECONDS))
          throw new IllegalStateException("first")
        },
        () => {
          secondStarted.countDown()
          try Thread.sleep(30000)
          catch {
            case _: InterruptedException =>
              throw new IllegalArgumentException("second")
          }
        },
        () => 1))
    }
    assert(first.getMessage == "first")
    assert(first.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("a body over the timeout fails the call and is interrupted") {
    val interrupted = new CountDownLatch(1)
    val t0 = System.nanoTime()
    intercept[TimeoutException] {
      DriverPool.run(2, 300.millis)(Seq(
        () => (),
        () => try Thread.sleep(30000) catch {
          case e: InterruptedException => interrupted.countDown(); throw e
        }))
    }
    assert(interrupted.getCount == 0)
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }

  test("bodies' jobs keep the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("driver-pool-spec", "group inheritance")
    try recordingJobs { jobs =>
      val counts = DriverPool.run(3)((1 to 3).map(i => () => {
        assert(sc.getLocalProperty("spark.jobGroup.id") == "driver-pool-spec")
        spark.range(i * 10L).count()
      }))
      assert(counts == Seq(10L, 20L, 30L))
      eventually(timeout(10.seconds)) { assert(jobs.size >= 3) }
      assert(jobs.values.asScala.toSet == Set("driver-pool-spec"))
    } finally sc.clearJobGroup()
    // the caller's own properties are untouched by the bodies' job tag
    assert(sc.getJobTags().isEmpty)
  }

  test("a sibling blocked in a long Spark job is cancelled") {
    val sc = spark.sparkContext
    sc.setJobGroup("driver-pool-cancel", "sibling cancellation")
    val t0 = System.nanoTime()
    try recordingJobs { jobs =>
      val e = intercept[IllegalStateException] {
        DriverPool.run(2)(Seq(
          () => {
            eventually(timeout(30.seconds)) { assert(!jobs.isEmpty) }
            throw new IllegalStateException("sibling failed")
          },
          () => sc.parallelize(0 until 2, 2).foreach { _ =>
            // a minute-long task that stops once Spark kills it
            val ctx = TaskContext.get()
            val until = System.nanoTime() + 60L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < until)
              Thread.sleep(20)
          }))
      }
      assert(e.getMessage == "sibling failed")
      assert(e.getSuppressed.nonEmpty, "the cancelled job's error is kept")
      val ours = jobs.keySet.asScala.toSet
      eventually(timeout(10.seconds)) {
        assert(sc.statusTracker.getActiveJobIds().toSet.intersect(ours).isEmpty)
      }
      assert((System.nanoTime() - t0) / 1e9 < 45, "the job was waited out")
    } finally sc.clearJobGroup()
  }
}
