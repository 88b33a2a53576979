package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[DriverPool]] the driver's only fork-join primitive: no other
  * main source builds a thread pool, borrows the global execution
  * context or waits without a bound. */
class OneDriverPoolSpec extends AnyFunSuite {

  private val forbidden = Seq("newFixedThreadPool", "newCachedThreadPool",
    "newSingleThreadExecutor", "newScheduledThreadPool", "newWorkStealingPool",
    "new ThreadPoolExecutor", "new ForkJoinPool", "ExecutionContext.global",
    "ExecutionContext.Implicits", "ExecutionContext.fromExecutor",
    "Duration.Inf")

  /** The lake-maintenance worker is a long-lived background scheduler
    * (one cycle in flight, ever), not a fork-join. */
  private val allowed = Map(
    "graft/streaming/StreamRunner.scala" -> Seq("newSingleThreadExecutor"))

  test("src/main has one fork-join primitive, DriverPool") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("graft/DriverPool.scala")))
    val hits = for {
      p <- sources if !p.endsWith("graft/DriverPool.scala")
      rel = root.relativize(p).toString
      (text, n) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- forbidden
      if text.contains(word) && !allowed.getOrElse(rel, Nil).contains(word)
    } yield s"$rel:${n + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
