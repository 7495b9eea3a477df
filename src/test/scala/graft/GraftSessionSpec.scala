package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins "one way to build a session": every entry point under
  * `src/main/scala` goes through [[GraftSession.local]], so the session
  * settings live in one file; "one bucketed write" in
  * `graft.operators.TextIndex`; and one candidate heap, the
  * `graft.operators.CodeScan` kernel's. */
class GraftSessionSpec extends AnyFunSuite {

  /** The source without its comments (line, block and nested block);
    * string literals are kept, and a comment marker inside one starts no
    * comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at("'\"'") || at("'\\\"'")) { // a quote char literal
        val stop = src.indexOf('\'', i + 1) + 1
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') {
          if (src(j) == '\\') j += 1
          j += 1
        }
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("comment stripping keeps code and strings, drops comments") {
    val src = "val a = 1 // SparkSession.builder()\n" +
      "/** SparkSession.builder() /* nested */ SparkSession.builder() */\n" +
      "val b = \"x // y\" + '\"' + '\\\"' + \"//\"\n" +
      "val c = SparkSession.builder()"
    val c = code(src)
    assert(!c.contains("1 // "))
    assert(c.contains("val b = \"x // y\" + '\"' + '\\\"' + \"//\""))
    assert(c.split("SparkSession.builder").length == 2)
  }

  test("SparkSession.builder appears in code only in graft/GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources found under $root")
    val builders = files.filter { (p: Path) =>
      code(new String(Files.readAllBytes(p), "UTF-8"))
        .contains("SparkSession.builder")
    }.map(p => root.relativize(p).toString.replace('\\', '/')).sorted
    assert(builders == Seq("graft/GraftSession.scala"),
      s"sessions built outside GraftSession: $builders")
  }

  test("one compressed-code scan: PriorityQueue appears in code under " +
      "graft/operators only in CodeScan.scala") {
    val root = Paths.get("src/main/scala/graft/operators")
    val files = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 30, s"only ${files.size} sources found under $root")
    val heaps = files.filter { (p: Path) =>
      code(new String(Files.readAllBytes(p), "UTF-8")).contains("PriorityQueue")
    }.map(_.getFileName.toString).sorted
    assert(heaps == Seq("CodeScan.scala"),
      s"candidate heaps outside the CodeScan kernel: $heaps")
  }

  test("TextIndex has one bucketed write: .bucketBy( appears once in code") {
    val src = Paths.get("src/main/scala/graft/operators/TextIndex.scala")
    val c = code(new String(Files.readAllBytes(src), "UTF-8"))
    assert(c.contains("saveAsTable"), s"${src.toAbsolutePath} has no writes")
    assert(c.split("\\.bucketBy\\(", -1).length - 1 == 1,
      "every TextIndex table write must go through its one bucketed write")
  }
}
