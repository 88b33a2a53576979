package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit, TimeoutException}

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The driver's one fork-join primitive: run independent bodies (Spark
  * actions over disjoint outputs, footer reads, file copies)
  * concurrently and return their results in body order (optimization
  * guide §2.6 — Spark runs several jobs at once inside one application,
  * so independent actions submitted sequentially leave the cluster idle
  * through each job's scheduling/commit tail).
  *
  * The contract:
  *  - zero or one body, or `max <= 1`, runs inline on the caller;
  *  - otherwise at most `max` bodies run at once on threads created at
  *    CALL time, so they inherit the caller's Spark local properties
  *    (job group, description, scheduler pool), which ride an
  *    InheritableThreadLocal copied at thread creation;
  *  - every wait is bounded by one finite timeout;
  *  - on the first failure (or the timeout) the Spark jobs the bodies
  *    submitted are cancelled through a per-call job tag (a tag, not a
  *    job group, so the caller's group is left as it was), the remaining
  *    bodies are interrupted and drained, and only then is the first
  *    error rethrown, the siblings' errors attached as suppressed. No
  *    body is still running when a failed call returns. */
object DriverPool {

  /** Generous finite bound on every wait: turns a hung filesystem call
    * into an error instead of wedging the caller forever. Far above any
    * legitimate body. */
  private val Timeout: FiniteDuration = 6.hours

  def run[T](max: Int)(bodies: Seq[() => T]): Seq[T] =
    run(max, Timeout)(bodies)

  /** [[run]] for two bodies of different result types. */
  def pair[A, B](a: () => A, b: () => B): (A, B) = {
    val Seq(ra, rb) = run[Any](2)(Seq(a, b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  private[graft] def run[T](max: Int, timeout: FiniteDuration)
                           (bodies: Seq[() => T]): Seq[T] =
    if (bodies.sizeIs <= 1 || max <= 1) bodies.map(_())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-driver-pool-${java.util.UUID.randomUUID()}"
      def cancelJobs(): Unit = sc.filterNot(_.isStopped)
        .foreach(_.cancelJobsWithTag(tag, "a sibling driver-pool body failed"))
      val pool = Executors.newFixedThreadPool(math.min(max, bodies.size))
      val done = new ExecutorCompletionService[T](pool)
      val futures = bodies.map(b => done.submit(new Callable[T] {
        def call(): T = { sc.foreach(_.addJobTag(tag)); b() }
      }))
      try {
        val deadline = timeout.fromNow
        bodies.foreach { _ =>
          val f = done.poll(deadline.timeLeft.toNanos.max(0L),
            TimeUnit.NANOSECONDS)
          if (f == null) throw new TimeoutException(
            s"driver-pool bodies still running after $timeout")
          f.get()
        }
        futures.map(_.get())
      } catch {
        case t: Throwable =>
          val first = t match {
            case e: ExecutionException => e.getCause
            case _ => t
          }
          cancelJobs()
          pool.shutdownNow()
          val drained = pool.awaitTermination(timeout.toNanos,
            TimeUnit.NANOSECONDS)
          // again after the drain: a body interrupted between two actions
          // may have submitted its next job after the first cancel
          cancelJobs()
          futures.filter(f => f.isDone && !f.isCancelled).foreach { f =>
            try f.get()
            catch {
              case e: ExecutionException =>
                if (e.getCause ne first) first.addSuppressed(e.getCause)
            }
          }
          if (!drained) first.addSuppressed(new TimeoutException(
            s"driver-pool bodies still running $timeout after cancellation"))
          throw first
      } finally pool.shutdown()
    }
}
