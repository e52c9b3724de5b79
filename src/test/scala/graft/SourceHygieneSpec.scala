package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the repo against raw control bytes in source files, and the
  * tools against growing their own listeners back.
  *
  * Raw U+0000/U+0001 bytes in string/char literals make git classify the
  * file as BINARY — diffs, blame, and review silently break. This happened
  * twice (Parser.scala round 4, PromJson.scala round 5); the canonical
  * label-separator constants must be written as `\\u0000`-style escapes.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaSources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaSources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    }

  test("no .scala source file contains raw control bytes (git-binary guard)") {
    val root = new java.io.File("src")
    assert(root.isDirectory, "run from the repo root")
    val offenders = scalaSources(root).flatMap { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bad = bytes.zipWithIndex.collect {
        case (b, i) if (b & 0xFF) < 0x20 &&
          b != '\t'.toByte && b != '\n'.toByte && b != '\r'.toByte => i
      }
      if (bad.isEmpty) None
      else Some(s"${f.getPath}: raw control byte(s) at offset(s) ${bad.take(5).mkString(",")}" +
        " — use \\u-escapes in literals")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only the shared ToolListener defines a SparkListener under tools/") {
    val tools = new java.io.File("src/main/scala/graft/tools")
    assert(tools.isDirectory, "run from the repo root")
    // a subclass or an anonymous one, by simple or qualified name
    val listener =
      "\\b(extends|new|with)\\s+([\\w.]*\\.)?SparkListener(Interface)?\\b".r
    val offenders = scalaSources(tools)
      .filter(_.getName != "ToolListener.scala")
      .filter(f => listener.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined)
      .map(_.getPath)
    assert(offenders.isEmpty,
      s"tools must share ToolListener, not define their own: $offenders")
  }
}
