package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: a raw NUL byte makes grep and ripgrep treat a file as
  * binary and hide its matches; write `\u0000` in string literals. The
  * program never mutates the session conf: a setting one run flips is seen
  * by every other run sharing the session, so per-operation settings go on
  * the operation (a writer option, a hint). */
class SourceSpec extends AnyFunSuite {
  private def scalaFiles(dir: String) = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"no $dir/ under ${sys.props("user.dir")}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("no .scala file under src/ contains a NUL byte") {
    val files = scalaFiles("src")
    assert(files.size > 50)
    val withNul = files.filter(f => Files.readAllBytes(f).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }

  test("no file under src/main/scala sets or unsets a session conf") {
    val files = scalaFiles("src/main/scala")
    assert(files.size > 30)
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if line.contains("conf.set(") || line.contains("conf.unset(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
