package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SessionFactory.builder("graft-tests", Some("local[4]"),
        shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body`, which may join this shared session through a
    * production `getOrCreate()` that writes its builder's runtime conf
    * onto it, then puts `keys` back and asserts the whole session conf
    * equals its snapshot from before: a key the body wrote and `keys`
    * does not name fails here instead of leaking into every later suite.
    */
  def withConfRestored[A](keys: String*)(body: => A): A = {
    val conf = spark.conf
    val before = conf.getAll
    val saved = keys.map(k => k -> conf.getOption(k))
    val out =
      try body
      finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    val after = conf.getAll
    val leaked = (after.toSet diff before.toSet).map(_._1) ++
      (before.keySet diff after.keySet)
    assert(after == before, s"session conf leaked: ${leaked.toSeq.sorted}")
    out
  }
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark

  /** Write JSON-lines fixture content to a temp file; returns its path. */
  def jsonFixture(lines: Seq[String], name: String = "fixture"): String = {
    val dir = Files.createTempDirectory(s"graft_$name")
    val f = dir.resolve(s"$name.json")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  def tempDir(name: String): Path = Files.createTempDirectory(s"graft_$name")

  def readJson(path: String): DataFrame = spark.read.json(path)
}
