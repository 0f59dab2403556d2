package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** No engine knobs: environment variables are read only by the entry
  * mains that run the engine (`Bench`, `Verify`, `Demo`, `Profile`). A
  * library path that reads the environment is a setting no caller can
  * see or test; engine settings are arguments or `Config` fields. The
  * same source scan also keeps the engine free of cached Datasets and
  * keeps every ALTER commit on the replay's slice routine.
  */
class KnobSpec extends AnyFunSuite {

  private val entryMains =
    Set("Bench.scala", "Verify.scala", "Demo.scala", "Profile.scala")
      .map(n => Paths.get("graft", n))
  private val EnvRead = """\bsys\.env\b|\bSystem\.getenv\b""".r
  private val Cached = """\.cache\(\)|\.persist\(""".r
  private val AlterCall = """\bSchemaEvolution(\.apply)?\(""".r
  private val alterPath = Set("Replay.scala", "SchemaEvolution.scala")
    .map(n => Paths.get("graft", "operators", n))
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (file under `root`, line number, line) of every non-comment line
    * that matches `pattern`.
    */
  private def matches(pattern: Regex): Seq[(Path, Int, String)] = {
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      finally walk.close()
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !l.trim.matches("""(//|/?\*).*""") &&
            pattern.findFirstIn(l).nonEmpty =>
          (root.relativize(f), i + 1, l.trim)
      }
    }
  }

  test("no environment read under src/main/scala outside the entry mains " +
      "(Bench, Verify, Demo, Profile)") {
    assert(Files.isDirectory(root), s"$root")
    val reads = matches(EnvRead)
    // the scan sees the reads it is meant to allow
    assert(reads.exists(_._1 == Paths.get("graft", "Bench.scala")))
    val knobs = reads.filterNot(r => entryMains(r._1))
    assert(knobs.isEmpty,
      knobs.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("ALTERs commit only through Replay.applySlice: no call of " +
      "SchemaEvolution(...) under src/main/scala outside Replay and " +
      "SchemaEvolution, so a replay and a micro-batch share one ALTER rule") {
    assert(Files.isDirectory(root), s"$root")
    val calls = matches(AlterCall)
    // the scan sees the call it is meant to allow
    assert(calls.exists(_._1 == Paths.get("graft", "operators", "Replay.scala")))
    val stray = calls.filterNot(c => alterPath(c._1))
    assert(stray.isEmpty,
      stray.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("no Dataset is cached under src/main/scala: cache() and persist() " +
      "pin the frame in the session-wide CacheManager for the session's " +
      "life, while a local checkpoint is freed with its plan") {
    assert(Files.isDirectory(root), s"$root")
    val cached = matches(Cached)
    assert(cached.isEmpty,
      cached.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }
}
