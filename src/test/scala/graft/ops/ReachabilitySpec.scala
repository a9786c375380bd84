package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reachability census of the main sources. Every public object, class or
  * trait in `src/main/scala`, and every public def declared in an object's
  * body, must be named in another main or perfbench source or a second time
  * in its own file. A name that only its own specs use marks a unit no
  * entry point reaches: delete it with its specs, or list it in [[Allowed]]
  * with the reason it stays. Comments are no reference; string literals
  * are, since query text names what it calls.
  *
  * The census reads names, not call graphs: a unit reached only from
  * another unreached unit passes until that one is deleted.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Declarations no source names, each kept for the reason given. */
  private val Allowed: Map[String, String] = Map(
    "Verify" -> "main: dumps every registry query for the oracle compare",
    "Bench" -> "main: times the registry queries",
    "Explain" -> "main: prints a query's physical plan for plan audits",
    "GenScale" -> "main: inflates an SF directory for the sf1 oracle run",
    "SparkEntry.entry" -> "the driver contract's flagship query",
    "Ingest.httpFetch" -> "the reference's Eurostat fetch (ingestion_hicp_raw.py); tests run offline",
    "Ingest.fetchWithFallback" -> "the reference's unit-parameter retry (ingestion_hicp_raw.py)",
    "GoldWriter.latestPath" -> "the reference's latest-object helper (storage/blob.py)")

  private val CharLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
  private val Decl =
    """\{|\}|\b(object|class|trait|def)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Hidden = """\b(private|protected|override)\b""".r

  /** `src` with comments removed, and the same text with string and char
    * literals blanked too (so braces inside them do not count as scopes).
    */
  private def strip(src: String): (String, String) = {
    val code, shape = new StringBuilder
    def emit(text: String, blanked: String): Unit = { code ++= text; shape ++= blanked }
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val eol = src.indexOf('\n', i)
        i = if (eol < 0) n else eol
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        emit(" ", " ")
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        emit(src.substring(i, j), "\"\"")
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        emit(src.substring(i, j), "\"\"")
        i = j
      } else {
        val lit = if (src(i) == '\'') CharLit.findPrefixOf(src.substring(i, math.min(n, i + 8)))
          else None
        val text = lit.getOrElse(src(i).toString)
        emit(text, if (lit.isDefined) "' '" else text)
        i += text.length
      }
    }
    (code.toString, shape.toString)
  }

  /** Public declarations of one source: (qualified name, kind) per object,
    * class or trait, and per def directly in an object's body. */
  private def declarations(shape: String): Seq[(String, String)] = {
    // open scopes: Some(object name) for an object's body, None otherwise
    var scopes = List.empty[Option[String]]
    var pending: Option[String] = None
    Decl.findAllMatchIn(shape).flatMap { m =>
      m.matched match {
        case "{" => scopes = pending :: scopes; pending = None; Nil
        case "}" => scopes = scopes.drop(1); Nil
        case _ =>
          val (kind, name) = (m.group(1), m.group(2))
          val modifiers = shape.substring(shape.lastIndexOf('\n', m.start) + 1, m.start)
          val public = Hidden.findFirstIn(modifiers).isEmpty
          val owner = scopes.headOption.flatten
          pending = if (kind == "object") Some(name) else None
          if (!public) Nil
          else if (kind != "def") Seq(name -> kind)
          else owner.map(o => s"$o.$name" -> kind).toSeq
      }
    }.toList
  }

  private def sources(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sorted

  /** Every unreached public declaration: (qualified name, "file: kind name"). */
  private def census(): Seq[(String, String)] = {
    val main = sources("src/main/scala")
    val all = main ++ sources("perfbench/scala")
    assert(main.nonEmpty, "no sources under src/main/scala")
    val stripped = all.map(p => p -> strip(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    main.flatMap { p =>
      val (code, shape) = stripped(p)
      declarations(shape).filter { case (qualified, _) =>
        val word = ("\\b" + qualified.split('.').last + "\\b").r
        word.findAllMatchIn(code).size < 2 &&
          all.forall(o => o == p || word.findFirstIn(stripped(o)._1).isEmpty)
      }.map { case (qualified, kind) => qualified -> s"$p: $kind $qualified" }
    }
  }

  test("every public main declaration is named by another source, or allow-listed") {
    val unreached = census()
    val offenders = unreached.filterNot { case (q, _) => Allowed.contains(q) }
    if (offenders.nonEmpty)
      fail("reached by no main or perfbench source; delete it with its specs, or " +
        "allow-list it with a reason:\n" + offenders.map(_._2).mkString("\n"))
    val stale = Allowed.keySet -- unreached.map(_._1)
    if (stale.nonEmpty)
      fail(s"allow-listed but reached or gone: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("the census reads past comments and into literals") {
    val src = "object A { /* B { */ def c = \"}\" + d // e {\n def f = '{' }\nclass G"
    val (code, shape) = strip(src)
    assert(!code.contains("B") && !code.contains("e {") && code.contains("\"}\""))
    assert(declarations(shape) == Seq("A" -> "object", "A.c" -> "def", "A.f" -> "def",
      "G" -> "class"))
  }
}
