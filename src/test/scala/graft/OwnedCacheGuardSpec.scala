package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every cached or pinned frame in `src/main` goes through
  * `graft.operators.Pin`, so a scope owns and frees it. A raw
  * `.persist(` / `.cache()` / `.localCheckpoint(` / `.checkpoint(`
  * anywhere else would bring back a cache nothing frees; the one
  * exception is the application-lifetime BM25 index memo
  * (`QueryHelpers.bm25IndexFor`), which no query scope may own.
  */
class OwnedCacheGuardSpec extends AnyFunSuite {

  private val raw = """\.(persist|localCheckpoint|checkpoint)\(|\.cache\(\)""".r

  /** (file relative to src/main/scala, line number, enclosing def) of
    * every raw cache call outside comments. */
  private def rawCalls: Seq[(String, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap { f =>
        var enclosing = ""
        Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
          val code = line.trim
          "def (\\w+)".r.findFirstMatchIn(code).foreach(m => enclosing = m.group(1))
          val comment = code.startsWith("//") || code.startsWith("*") ||
            code.startsWith("/*")
          if (!comment && raw.findFirstIn(code).isDefined)
            Some((root.relativize(f).toString, i + 1, enclosing))
          else None
        }
      }
  }

  test("src/main caches and checkpoints only through Pin, bar the BM25 " +
    "index memo") {
    val offenders = rawCalls.filterNot { case (file, _, enclosing) =>
      file == "graft/operators/Pin.scala" ||
        (file == "graft/queries/QueryHelpers.scala" && enclosing == "bm25IndexFor")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the BM25 index memo keeps its one raw persist") {
    // the guard above must not pass vacuously (a moved file, a renamed
    // memo): the known exception is still where the guard expects it
    assert(rawCalls.count(_._3 == "bm25IndexFor") == 1, rawCalls.mkString("\n"))
  }
}
