package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `Sessions` is the only place under `src/main` that builds
  * a SparkSession, so every main runs the one configuration. Comments are
  * stripped first (scaladoc may show a builder call). Reads source files
  * only — no SparkContext.
  */
class SessionFrontDoorSpec extends AnyFunSuite {

  private val call = """SparkSession\s*\.\s*builder\b""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("no file under src/main but Sessions.scala calls SparkSession.builder") {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Sessions.scala").toSeq
    assert(files.nonEmpty)
    val offenders = files.flatMap { p: Path =>
      val n = call.findAllIn(code(new String(Files.readAllBytes(p), "UTF-8")))
        .size
      if (n > 0) Some(s"$p ($n)") else None
    }
    assert(offenders.isEmpty,
      "build the session with graft.Sessions.getOrCreate:\n  " +
        offenders.mkString("\n  "))
  }
}
