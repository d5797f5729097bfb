package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every store under `graft.streaming` writes its data files through
  * `StoreLog.stage`, so a commit names them and a replayed batch commits
  * nothing. A parquet write anywhere else in the package would bring
  * back a store the log cannot account for. The exceptions are the
  * package's table outputs, which are not stores:
  *   - `incrementalDedupStream`'s curated output, a plain append whose
  *     duplicate-on-torn-batch behaviour is documented;
  *   - `jhubStream`'s file sink, exactly-once through Spark's own sink
  *     log;
  *   - the dual-sink staging write (`saveBatchOrFail` through
  *     `PipelineContext.saveTable`), the reference's append-mode table.
  */
class StoreWriteGuardSpec extends AnyFunSuite {

  private val write =
    ("""ParquetSink\.write|(?<!read)\.parquet\(|\.save\(|\.saveAsTable\(|""" +
      """\.insertInto\(|format\("parquet"\)|\.saveTable\(""").r

  /** The writes allowed per (file, enclosing def): one each. */
  private val allowed = Map(
    ("StoreLog.scala", "stage") -> 1,
    ("Streams.scala", "incrementalDedupStream") -> 1,
    ("Streams.scala", "jhubStream") -> 1,
    ("Streams.scala", "saveBatchOrFail") -> 1)

  /** (file name, line number, enclosing def) of every write outside
    * comments in `src/main/scala/graft/streaming`. */
  private def writes: Seq[(String, Int, String)] = {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap { f =>
        var enclosing = ""
        Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
          val code = line.trim
          "def (\\w+)".r.findFirstMatchIn(code).foreach(m => enclosing = m.group(1))
          val comment = code.startsWith("//") || code.startsWith("*") ||
            code.startsWith("/*")
          if (!comment && write.findFirstIn(code).isDefined)
            Some((f.getFileName.toString, i + 1, enclosing))
          else None
        }
      }
  }

  private def writesPerDef: Map[(String, String), Seq[(String, Int, String)]] =
    writes.groupBy { case (file, _, enclosing) => (file, enclosing) }

  test("graft.streaming writes store files only through StoreLog.stage, " +
    "bar the package's table outputs") {
    val offenders = writesPerDef.filter { case (at, ws) =>
      ws.size > allowed.getOrElse(at, 0)
    }.values.flatten
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every allowed write is still where the guard expects it") {
    // the guard above must not pass vacuously (a moved file, a renamed
    // def): each exception still holds its one write
    val found = writesPerDef.map { case (at, ws) => at -> ws.size }
    assert(allowed.forall { case (at, n) => found.get(at).contains(n) },
      s"expected $allowed, found $found")
  }
}
