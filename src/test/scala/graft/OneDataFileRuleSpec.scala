package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexOcc
import graft.sources.ZLake

/** Keeps each of the lake's, the derived indexes' and the dimension
  * enrichments' one-owner rules in its one place —
  * [[ZLake.listDataFilesDetectTorn]] spells the data-file rule,
  * [[graft.sinks.LakeDelete.publishSidecar]] the sidecar swap, [[IndexOcc]]
  * the index compaction loop, [[ZLake.relPath]] the root-relative path,
  * [[graft.operators.DimSnapshot]] the dims' broadcast variables (no
  * broadcast join is left in the window's enrichments),
  * [[graft.operators.IntervalIndex.segmentOf]] the interval lookup,
  * [[graft.dns.Ingest.parse]] the one JSON parse of a DNS line — and
  * pins the data-file rule once on a local
  * directory tree (no Spark): its listings, its missing-root failure, and
  * [[IndexOcc.adoptStaged]], which moves files by it. */
class OneDataFileRuleSpec extends AnyFunSuite {

  /** `pattern` may appear, among the src/main files `within` selects, only
    * in `owner`'s `(file, member)` ("*" = any member of the file); None =
    * nowhere. */
  private final case class Rule(pattern: String, owner: Option[(String, String)],
                                within: String => Boolean = _ => true)

  /** The DNS window's dimension code: the enrichments and their index. */
  private def dimCode(f: String): Boolean = f.startsWith("graft/dns/") ||
    f == "graft/operators/IntervalIndex.scala" ||
    f == "graft/operators/DimSnapshot.scala"

  private val owners: Seq[Rule] = Seq(
    Rule("endsWith(\".parquet\")",
      Some("graft/sources/ZLake.scala" -> "listDataFilesDetectTorn")),
    Rule("atomicOverwrite(",
      Some("graft/sinks/LakeDelete.scala" -> "publishSidecar")),
    Rule("maxCompactionRetries", Some("graft/operators/IndexOcc.scala" -> "*")),
    Rule("stripPrefix(rootUri)", None),
    // a dim's broadcast variable is made once per content version, by the
    // snapshot memo alone
    Rule(".broadcast(", Some("graft/operators/DimSnapshot.scala" -> "broadcast"),
      dimCode),
    // the window's enrichments probe snapshots; no broadcast join is left
    // (userTags is off the window path)
    Rule("broadcast(", Some("graft/dns/Reports.scala" -> "userTags"),
      f => f == "graft/dns/Dims.scala" || f == "graft/dns/Reports.scala"),
    // "point in [lo, hi]" has one segment lookup, shared by the dim
    // enrichments and the SQL BETWEEN join, and no nested-loop variant
    Rule("Arrays.binarySearch(",
      Some("graft/operators/IntervalIndex.scala" -> "segmentOf")),
    Rule("RangeJoin", None),
    // a DNS line is parsed once, behind the barrier that keeps the filters
    // from re-parsing it
    Rule("from_json(", Some("graft/dns/Ingest.scala" -> "parse"),
      _.startsWith("graft/dns/")))

  test("src/main spells each one-owner rule only in its owner") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toSeq)
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val strays = for {
      Rule(pattern, owner, within) <- owners
      (file, lines) <- sources if within(file)
      (text, n) <- lines.zipWithIndex if text.contains(pattern)
      in = lines.take(n).reverseIterator
        .flatMap(l => member.findFirstMatchIn(l).map(_.group(1)))
        .nextOption().getOrElse("?")
      if !owner.exists { case (f, m) => f == file && (m == "*" || m == in) }
    } yield s"$pattern at $file:${n + 1} in $in"
    assert(strays.isEmpty, strays.mkString("\n", "\n", ""))
  }

  private val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem

  private def touch(root: String, rel: String, bytes: Int): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](bytes)(1))
  }

  /** Three visible data files among every kind of thing the rule hides. */
  private def mkTree(): Path = {
    val root = Files.createTempDirectory("graft-rule").toString
    touch(root, "a.parquet", 1)
    touch(root, "K=v/b.parquet", 2)
    touch(root, "K=v/Sub=w/e.parquet", 3)
    Seq("_SUCCESS", ".a.parquet.crc", ZLake.ManifestName, "notes.txt",
      "K=v/_x.parquet", "K=v/.y.parquet", "K=v/Sub=w/.e.parquet.crc",
      "_compacting/K=v/c.parquet", ".append-1/K=v/d.parquet")
      .foreach(touch(root, _, 4))
    new Path(root)
  }

  test("the listings return exactly the visible parquet files") {
    val root = mkTree()
    val listed = ZLake.listDataFiles(fs, root)
    assert(listed.map(f => ZLake.relPath(root, f._1.getPath)) ===
      Seq("K=v/Sub=w/e.parquet", "K=v/b.parquet", "a.parquet"))
    assert(listed.map(_._2) ===
      Seq(Seq("k" -> "v", "sub" -> "w"), Seq("k" -> "v"), Nil))
    assert(ZLake.dataFilesIn(fs, root).map(_.getPath.getName) ===
      Seq("a.parquet"))
    assert(ZLake.dataFilesIn(fs, new Path(root, "K=v"))
      .map(_.getPath.getName) === Seq("b.parquet"))
    val ids = ZLake.dataFileIdentities(fs, root)
    assert(ids.map(i => (i._1, i._2)) === Seq("K=v/Sub=w/e.parquet" -> 3L,
      "K=v/b.parquet" -> 2L, "a.parquet" -> 1L))
    assert(ids.map(_._3) === listed.map(_._1.getModificationTime))
  }

  test("a missing root throws") {
    val missing = new Path(mkTree(), "absent")
    intercept[java.io.FileNotFoundException](ZLake.listDataFiles(fs, missing))
    intercept[java.io.FileNotFoundException](ZLake.dataFilesIn(fs, missing))
    intercept[java.io.FileNotFoundException](
      ZLake.dataFileIdentities(fs, missing))
  }

  test("adoptStaged keeps partition dirs and names files by prefix") {
    def staged(): Path = {
      val s = Files.createTempDirectory("graft-stage").toString
      Seq("K=v/part-0.parquet", "K=v/part-1.parquet", "part-2.parquet")
        .foreach(touch(s, _, 1))
      Seq("_SUCCESS", "K=v/.part-0.parquet.crc").foreach(touch(s, _, 1))
      new Path(s)
    }
    def adopted(active: Path): Seq[String] =
      ZLake.listDataFiles(fs, active).map(f => ZLake.relPath(active, f._1.getPath))
    val fresh = new Path(Files.createTempDirectory("graft-active").toString)
    IndexOcc.adoptStaged(fs, staged(), fresh)
    val random = adopted(fresh)
    val tagged = "^(K=v/)?a([0-9a-f]{8})-(part-\\d\\.parquet)$".r
    val parsed = random.map { case tagged(d, tag, n) =>
      (Option(d).getOrElse("") + n, tag) }
    assert(parsed.map(_._1).sorted ===
      Seq("K=v/part-0.parquet", "K=v/part-1.parquet", "part-2.parquet"))
    assert(parsed.map(_._2).distinct.size === 3, "one fresh tag per file")

    val fenced = new Path(Files.createTempDirectory("graft-active").toString)
    val stage = staged()
    IndexOcc.adoptStaged(fs, stage, fenced, "ingest7")
    assert(adopted(fenced) === Seq("K=v/ingest7-part-0.parquet",
      "K=v/ingest7-part-1.parquet", "ingest7-part-2.parquet"))
    assert(fs.exists(new Path(stage, "K=v/.part-0.parquet.crc")),
      "hidden files stay behind")
  }
}
