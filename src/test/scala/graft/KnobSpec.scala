package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** No engine knobs: environment variables are read only by the entry
  * mains that run the engine (`Bench`, `Verify`, `Demo`, `Profile`). A
  * library path that reads the environment is a setting no caller can
  * see or test; engine settings are arguments or `Config` fields.
  */
class KnobSpec extends AnyFunSuite {

  private val entryMains =
    Set("Bench.scala", "Verify.scala", "Demo.scala", "Profile.scala")
      .map(n => Paths.get("graft", n))
  private val EnvRead = """\bsys\.env\b|\bSystem\.getenv\b""".r

  /** (file under `root`, line number, line) of every non-comment line
    * that reads the environment.
    */
  private def envReads(root: Path): Seq[(Path, Int, String)] = {
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      finally walk.close()
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !l.trim.matches("""(//|/?\*).*""") &&
            EnvRead.findFirstIn(l).nonEmpty =>
          (root.relativize(f), i + 1, l.trim)
      }
    }
  }

  test("no environment read under src/main/scala outside the entry mains " +
      "(Bench, Verify, Demo, Profile)") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root")
    val reads = envReads(root)
    // the scan sees the reads it is meant to allow
    assert(reads.exists(_._1 == Paths.get("graft", "Bench.scala")))
    val knobs = reads.filterNot(r => entryMains(r._1))
    assert(knobs.isEmpty,
      knobs.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }
}
