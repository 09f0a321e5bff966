package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene: a raw NUL byte makes grep and ripgrep treat a file as
  * binary and hide its matches; write `\u0000` in string literals. */
class SourceSpec extends AnyFunSuite {
  test("no .scala file under src/ contains a NUL byte") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"no src/ under ${sys.props("user.dir")}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val withNul = files.filter(f => Files.readAllBytes(f).contains(0.toByte))
    assert(withNul.isEmpty, s"NUL bytes in: ${withNul.mkString(", ")}")
  }
}
