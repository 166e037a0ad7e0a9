package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.scalatest.funsuite.AnyFunSuite

/** FixtureCache.ensure beside other JVMs: a directory another process
  * installed with a current marker is adopted as it stands, and only
  * debris (marker missing or stale) is replaced. The directories are
  * written straight to disk, as another JVM would leave them, so the
  * per-JVM memo has never seen them. */
class FixtureCacheSpec extends AnyFunSuite {

  private lazy val src: Path = {
    val d = Files.createTempDirectory("graft-fixture-src")
    Files.write(d.resolve("part-0.txt"), "source".getBytes("UTF-8"))
    d
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }

  /** Builds and debris piles left beside `dir` (`<dir>.build-*`,
    * `<dir>.debris-*`). */
  private def leftovers(dir: Path): Seq[String] = {
    val ls = Files.list(dir.getParent)
    try ls.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith(s"${dir.getFileName}."))
    finally ls.close()
  }

  /** A fresh cache entry name, its directory and its stamp. */
  private def entry(tag: String): (String, Path, String) = {
    val name = s"spec_${tag}_${java.util.UUID.randomUUID()}"
    val (dir, stamp) = FixtureCache.locate(name, Seq(src.toString))
    (name, dir, stamp)
  }

  test("a current directory installed by another JVM is adopted untouched") {
    val (name, dir, stamp) = entry("installed")
    try {
      Files.createDirectories(dir)
      val data = Files.write(dir.resolve("data"), "theirs".getBytes("UTF-8"))
      Files.write(dir.resolve(FixtureCache.markerName), stamp.getBytes("UTF-8"))
      val mtime = Files.getLastModifiedTime(data)
      val got = FixtureCache.ensure(name, Seq(src.toString)) { _ =>
        fail("ensure rebuilt a directory whose marker is current")
      }
      assert(got == dir.toString)
      assert(read(data) == "theirs")
      assert(Files.getLastModifiedTime(data) == mtime)
      assert(leftovers(dir).isEmpty)
    } finally deleteRecursively(dir)
  }

  for ((what, marker) <- Seq("missing" -> None, "stale" -> Some("older")))
    test(s"debris with a $what marker is replaced by a fresh build") {
      val (name, dir, stamp) = entry(s"debris_$what")
      try {
        Files.createDirectories(dir)
        Files.write(dir.resolve("junk"), "debris".getBytes("UTF-8"))
        marker.foreach(m =>
          Files.write(dir.resolve(FixtureCache.markerName), m.getBytes("UTF-8")))
        val got = FixtureCache.ensure(name, Seq(src.toString)) { dest =>
          Files.createDirectories(Paths.get(dest))
          Files.write(Paths.get(dest, "data"), "fresh".getBytes("UTF-8"))
        }
        assert(got == dir.toString)
        assert(read(dir.resolve("data")) == "fresh")
        assert(!Files.exists(dir.resolve("junk")))
        assert(read(dir.resolve(FixtureCache.markerName)) == stamp)
        assert(leftovers(dir).isEmpty)
      } finally deleteRecursively(dir)
    }
}
