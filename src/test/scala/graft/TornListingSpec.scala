package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZLake

/** The torn-listing race (ADVICE r11): a subdir observed in its parent's
  * listing vanishes before its own listStatus runs (concurrent rewrite
  * swap). Read paths tolerate it as an empty subtree; IDENTITY consumers
  * must not — a torn listing can equal an older pinned fingerprint and
  * wave a stale MV/ANN index through its freshness guard. Pins all four
  * branches: subdir-vanish tolerance + torn flag, root fail-loud, the
  * fingerprint's never-equal torn token and the identity listing's
  * throw. */
class TornListingSpec extends AnyFunSuite {

  /** Local FS whose listStatus throws FileNotFoundException for any
    * directory with the given name — a deterministic stand-in for the
    * mid-walk retirement of a partition dir. */
  private final class VanishingFs(vanish: String) extends FilterFileSystem(
      FileSystem.getLocal(new Configuration()).getRawFileSystem) {
    override def listStatus(p: Path): Array[FileStatus] =
      if (p.getName == vanish)
        throw new java.io.FileNotFoundException(p.toString)
      else super.listStatus(p)
  }

  private def mkLake(): String = {
    val root = Files.createTempDirectory("graft-torn").toString
    Seq("win=1", "win=2").foreach { w =>
      Files.createDirectories(Paths.get(root, w))
      Files.write(Paths.get(root, w, "part-0.parquet"), Array[Byte](1, 2, 3))
    }
    root
  }

  test("a vanished subdir is tolerated as empty AND flagged torn") {
    val root = mkLake()
    val fs = new VanishingFs("win=1")
    val (files, torn) = ZLake.listDataFilesDetectTorn(fs, new Path(root))
    assert(torn)
    assert(files.map(_._1.getPath.getName) === Seq("part-0.parquet"))
    assert(files.head._2 === Seq("win" -> "2"))
  }

  test("a clean walk reports torn=false") {
    val root = mkLake()
    val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem
    val (files, torn) = ZLake.listDataFilesDetectTorn(fs, new Path(root))
    assert(!torn)
    assert(files.size === 2)
  }

  test("a vanished ROOT stays fail-loud (missing lake is an error)") {
    val root = mkLake()
    val fs = new VanishingFs(new Path(root).getName)
    intercept[java.io.FileNotFoundException] {
      ZLake.listDataFilesDetectTorn(fs, new Path(root))
    }
  }

  test("fingerprint of a persistently torn lake can never equal anything") {
    val root = mkLake()
    val fs = new VanishingFs("win=1")
    val a = ZLake.fingerprintWith(fs, new Path(root))
    val b = ZLake.fingerprintWith(fs, new Path(root))
    assert(a.startsWith("torn:"))
    assert(b.startsWith("torn:"))
    assert(a !== b) // unique token: equality — the only op consumers do — never holds
  }

  test("the identity listing throws on a torn walk instead of shrinking") {
    val root = mkLake()
    intercept[java.io.FileNotFoundException] {
      ZLake.dataFileIdentities(new VanishingFs("win=1"), new Path(root))
    }
  }

  test("fingerprint of a stable lake is deterministic and torn-free") {
    val root = mkLake()
    val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem
    val a = ZLake.fingerprintWith(fs, new Path(root))
    val b = ZLake.fingerprintWith(fs, new Path(root))
    assert(a === b)
    assert(a.matches("[0-9a-f]{32}"))
  }
}
