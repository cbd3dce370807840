package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-shape guard for what `src/main` ships: the engine plus the
  * three contract mains. Measurement harnesses live in test scope and
  * run as `sbt "Test/runMain graft.<Name>"`; every main builds its
  * session through [[graft.util.LocalSession]], every spec through
  * [[SparkSuite]]; no `println` debug
  * switch comes back; the native functions have one registry; every
  * `spark.graft.*` setting read has a CONFIG.md row and no row outlives
  * its setting. A source guard, because the defect IS the shape. */
class ProductionJarSpec extends AnyFunSuite {

  /** (path relative to `root`, text) of every Scala file under `root`. */
  private def sources(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => (base.relativize(p).toString, new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

  /** The text without comment lines: Scaladoc may NAME what the code
    * must not contain. */
  private def code(text: String): String =
    text.linesIterator.map(_.replaceFirst("//.*$", ""))
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") }
      .mkString("\n")

  private val definesMain = """def\s+main\s*\(""".r

  // split so this file does not match itself
  private val builder = "SparkSession." + "builder"

  test("src/main is the engine plus Bench, Verify and Explain; one session factory; no debug switches") {
    val main = sources("src/main/scala/graft").map { case (f, text) => (f, code(text)) }
    val mains = main.collect { case (f, c) if definesMain.findFirstIn(c).isDefined => f }
    assert(mains.sorted == Seq("Bench.scala", "Explain.scala", "Verify.scala"),
      "only the contract mains may ship; harnesses belong in src/test")

    val builders = main.collect { case (f, c) if c.contains(builder) => f }
    assert(builders == Seq("util/LocalSession.scala"),
      "build sessions through graft.util.LocalSession")
    // test-scope mains build through LocalSession and specs share the one
    // session of SparkSuite; the one builder left is GraftExtensionsSpec's,
    // whose subject is what a bare builder carrying only the extensions gets
    val test = sources("src/test/scala/graft").map { case (f, text) => (f, code(text)) }
    val testBuilders = test.collect { case (f, c) if c.contains(builder) => f }
    assert(testBuilders == Seq("GraftExtensionsSpec.scala"),
      s"test sources with their own session builder: $testBuilders")
    val specFactories = test.collect {
      case (f, c) if f.endsWith("Spec.scala") && c.contains("LocalSession" + "(") => f
    }
    assert(specFactories.isEmpty, s"specs call LocalSession outside SparkSuite: $specFactories")

    // split so this file does not match itself
    val switches = Seq("spark.graft." + "cc.debug", "spark.graft." + "debug.streamProgress")
    val all = sources("src")
    switches.foreach { sw =>
      val hits = all.collect { case (f, text) if text.contains(sw) => f }
      assert(hits.isEmpty, s"debug switch $sw is back in $hits")
    }
  }

  test("every spark.graft setting src/main reads has a CONFIG.md row, and every row is read") {
    // split so this file does not match itself
    val setting = "spark" + """\.graft\.[A-Za-z][\w.]*"""
    val quoted = ("\"(" + setting + ")\"").r
    val read = sources("src/main/scala").flatMap { case (_, text) =>
      quoted.findAllMatchIn(code(text)).map(_.group(1))
    }.toSet
    // the first cell of each CONFIG.md table row names what it documents
    val named = ("`(" + setting + ")`").r
    val documented = Files.readAllLines(Paths.get("CONFIG.md")).asScala
      .filter(_.startsWith("|")).flatMap { row =>
        named.findAllMatchIn(row.split('|')(1)).map(_.group(1))
      }.toSet
    assert((read -- documented).isEmpty, s"read but not in CONFIG.md: ${(read -- documented).toSeq.sorted}")
    assert((documented -- read).isEmpty, s"in CONFIG.md but read nowhere: ${(documented -- read).toSeq.sorted}")
  }

  test("no wait in src/main has a deadline: every Await runs on Duration.Inf") {
    // a deadline that holds at fixture scale fails a large corpus
    val bounded = for {
      (f, text) <- sources("src/main/scala")
      fn <- Seq("""Await\.result""", """Await\.ready""")
      args <- callArgs(code(text), fn) if !args.stripSuffix(")").trim.endsWith("Duration.Inf")
    } yield s"$f: $args"
    assert(bounded.isEmpty, s"Await with a deadline: $bounded")
  }

  /** The argument text of every `fn(` call in `c`, up to its matching
    * close parenthesis. */
  private def callArgs(c: String, fn: String): Seq[String] =
    ("""\b""" + fn + """\(""").r.findAllMatchIn(c).map { m =>
      var depth = 1
      var i = m.end
      while (i < c.length && depth > 0) {
        if (c(i) == '(') depth += 1 else if (c(i) == ')') depth -= 1
        i += 1
      }
      c.substring(m.end, i)
    }.toSeq

  test("native functions: operators build Columns, GraftExtensions is installed only by LocalSession") {
    val main = sources("src/main/scala").map { case (f, text) => (f, code(text)) }
    val operators = main.filterNot(_._1.startsWith("graft/functions/"))
    // split so this file does not match itself
    val register = "VectorExpressions." + "register"
    val registers = operators.collect { case (f, c) if c.contains(register) => f }
    assert(registers.isEmpty, s"per-operator $register calls in $registers")
    val byName = for {
      (f, c) <- operators
      fn <- Seq("expr", "selectExpr", "call_function")
      args <- callArgs(c, fn) if args.contains("graft_")
    } yield s"$f: $fn($args)"
    assert(byName.isEmpty, s"native functions looked up by name; use graft.functions.GraftFunctions: $byName")
    val installs = main.collect { case (f, c) if c.contains("spark.sql.extensions") => f }
    assert(installs == Seq("graft/util/LocalSession.scala"),
      "install GraftExtensions in graft.util.LocalSession only")
  }
}
