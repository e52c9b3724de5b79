package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the repo against raw control bytes in source files, the
  * tools against growing their own listeners back, the engine
  * against passing parameters through session conf or growing knobs
  * unnoticed, the storage engine against folding back into the HTTP
  * facade, its read state against leaving its one View, and every
  * src/main source against the session catalog.
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

  private def mainSources: Seq[java.io.File] = {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, "run from the repo root")
    scalaSources(main)
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("no session conf is set or unset in src/main outside tools/") {
    // the session is shared by concurrent requests and queries: a value
    // set around one piece of work is seen by every other meanwhile, so
    // work that needs a setting passes it explicitly or runs on a child
    // session. Tools own the sessions they build.
    val tools = new java.io.File("src/main/scala/graft/tools").getCanonicalPath
    val mutation = "conf\\.(set|unset)\\(".r
    val offenders = mainSources
      .filterNot(_.getCanonicalPath.startsWith(tools))
      .flatMap(f => text(f).linesIterator.zipWithIndex.collect {
        case (l, i) if mutation.findFirstIn(l).isDefined =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      })
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The lines of `files` whose code (not a comment line) names `pkg`. */
  private def codeNaming(pkg: String, files: Seq[java.io.File]): Seq[String] = {
    val use = ("\\b" + java.util.regex.Pattern.quote(pkg) + "\\b").r
    files.flatMap(f => text(f).linesIterator.zipWithIndex.collect {
      case (l, i) if use.findFirstIn(l).isDefined && !l.trim.startsWith("*") &&
          !l.trim.startsWith("/") =>
        s"${f.getPath}:${i + 1}: ${l.trim}"
    })
  }

  test("only the HTTP facade under graft/api uses the JDK HTTP server") {
    val api = new java.io.File("src/main/scala/graft/api").getCanonicalPath
    val offenders = codeNaming("com.sun.net.httpserver",
      mainSources.filterNot(_.getCanonicalPath.startsWith(api)))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the storage engine under graft/store does not reach into graft.api") {
    val store = new java.io.File("src/main/scala/graft/store")
    assert(store.isDirectory, "run from the repo root")
    val offenders = codeNaming("graft.api", scalaSources(store))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the storage engine publishes its read state through one View: " +
    "its @volatile fields are exactly the allowlist") {
    // a read must see one consistent state, so read-side state joins the
    // View; a field published on its own beside it can tear a read
    val allowed =
      Set("view", "pinsSinceFullFold", "coldWritesBlocked", "stopped")
    val field = "@volatile\\s+(private\\s+)?(var|val)\\s+(\\w+)".r
    val fields = field.findAllMatchIn(
      text(new java.io.File("src/main/scala/graft/store/Tsdb.scala")))
      .map(_.group(3)).toSet
    assert(fields === allowed)
  }

  test("the storage engine reads and writes its cold tier without the " +
    "session catalog") {
    // a generation's directory plus its manifest is the whole table; a
    // catalog entry is one more copy of it, shared by every store in the
    // session. The guard covers every src/main source, so no other
    // writer brings a catalog table back either
    val named = Seq("spark.catalog", "spark.table", "saveAsTable", "bucketBy",
      "sessionState.catalog").flatMap(codeNaming(_, mainSources))
    val ddl = mainSources.flatMap { f =>
      val code = text(f).linesIterator.filterNot { l =>
        l.trim.startsWith("*") || l.trim.startsWith("/")
      }.mkString("\n")
      "spark\\.sql\\(\\s*s?(\"\"\"[\\s\\S]*?\"\"\"|\"[^\"]*\")".r
        .findAllIn(code).filter(_.contains("TABLE"))
        .map(d => s"${f.getPath}: $d")
    }
    assert(named.isEmpty && ddl.isEmpty, (named ++ ddl).mkString("\n"))
  }

  test("the graft conf keys src/main reads are exactly the allowlist") {
    // a new knob is one more mechanism to keep working, so adding one
    // means editing this list
    val allowed = Set("graft.stage.dir", "spark.graft.ivf.retrain.ratio",
      "spark.graft.write.splits")
    val read =
      "conf\\.(get|getOption|contains)\\(\\s*\"((spark\\.)?graft\\.[^\"]+)\"".r
    val keys = mainSources.flatMap(f =>
      read.findAllMatchIn(text(f)).map(_.group(2))).toSet
    assert(keys === allowed)
  }
}
