package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps spec-only code cut: every public `def`, `val` and `object`
  * member declared under `src/main/scala/graft` must be reached from
  * `src/main` (a query, a main, a pipeline, or code they call), or be
  * listed with its reason in `src/test/resources/spec_only_allowlist.txt`,
  * one `Object.member  reason` per line (a top-level object is listed
  * by its name alone).
  *
  * "Reached" is a name grep, not a call graph. A member counts as
  * reached when its name appears as a whole word on a non-comment line
  * of `src/main` other than the line that declares it. Comments (`//`
  * and `/* */`, so scaladoc and its `[[…]]` links) do not count; string
  * literals do, because SQL text names registered functions. So an
  * overload, or a member with a common name such as `merge` or `run`,
  * reads as reached when any namesake is used, and so does a member
  * that only another unreached member calls. The check finds members
  * that no line of `src/main` names; it does not prove the rest live.
  *
  * A member is a declaration directly inside an `object`, `class` or
  * `trait` body, not a local of a method. `private`, `protected` and
  * `override` members and `case` objects are skipped (an override is
  * reached through its supertype), and so are `main` methods, which the
  * JVM calls. */
class SpecOnlySpec extends AnyFunSuite {
  import SpecOnlySpec._

  test("every public src/main member is reached from src/main or allowlisted with a reason") {
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val parsed = files.map(f => f -> lex(new String(Files.readAllBytes(f), "UTF-8")))
    val lines = parsed.map { case (f, (code, _)) => f -> code.split("\n", -1).toSeq }.toMap
    // every (file, line) on which each word appears outside comments
    val seen = scala.collection.mutable.HashMap[String, List[(Path, Int)]]()
    for ((f, ls) <- lines; (l, i) <- ls.zipWithIndex; w <- Word.findAllIn(l).toSet[String])
      seen(w) = (f, i + 1) :: seen.getOrElse(w, Nil)
    val members = parsed.flatMap { case (f, (_, toks)) => publicMembers(f, toks, lines(f)) }
    val reached = members.filter(m => seen.getOrElse(m.name, Nil).exists(_ != (m.file -> m.line)))
      .map(_.id).toSet
    val unreached = members.filterNot(m => reached(m.id))

    val allow = Files.readAllLines(Paths.get(AllowlistPath)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(l => l.split("\\s+", 2) match {
        case Array(id, reason) => id -> reason
        case _ => fail(s"allowlist line needs `Object.member  reason`: $l")
      }).toMap
    val missing = unreached.filterNot(m => allow.contains(m.id))
      .map(m => s"${m.id} (${m.file}:${m.line})")
    val declared = members.map(_.id).toSet
    val stale = allow.keys.toSeq.sorted.collect {
      case id if !declared(id) => s"$id: no such public member"
      case id if reached(id) => s"$id: reached from src/main now"
    }
    if (missing.nonEmpty || stale.nonEmpty) fail(
      (if (missing.isEmpty) "" else
        s"\n${missing.size} member(s) no src/main line reaches; delete them, " +
          s"or list them in $AllowlistPath with their reason:\n  " +
          missing.mkString("\n  ")) +
      (if (stale.isEmpty) "" else
        s"\nstale $AllowlistPath entries; remove them:\n  " + stale.mkString("\n  ")))
  }
}

object SpecOnlySpec {
  val AllowlistPath = "src/test/resources/spec_only_allowlist.txt"
  private val Word = "[A-Za-z_][A-Za-z0-9_]*".r

  final case class Member(owner: Option[String], name: String, file: Path, line: Int) {
    def id: String = owner.fold(name)(o => s"$o.$name")
  }

  /** `src` with its comments blanked (newlines kept, so line numbers
    * hold), and its code tokens with their lines: identifiers, braces
    * and parentheses. Braces and parentheses inside string literals are
    * not tokens, except in `${…}` interpolations. */
  def lex(src: String): (String, Seq[(String, Int)]) = {
    val out = new StringBuilder
    val toks = ArrayBuffer[(String, Int)]()
    sealed trait Frame
    final class Code(var braces: Int) extends Frame
    final case class Str(triple: Boolean, interp: Boolean) extends Frame
    var stack: List[Frame] = List(new Code(0))
    var line = 1
    var i = 0
    val n = src.length
    def at(s: String) = src.startsWith(s, i)
    def emit(s: String): Unit = { out ++= s; i += s.length }
    while (i < n) {
      val c = src(i)
      stack.head match {
        case code: Code =>
          if (at("//")) {
            while (i < n && src(i) != '\n') i += 1
          } else if (at("/*")) {
            var depth = 1
            i += 2
            while (i < n && depth > 0) {
              if (at("/*")) { depth += 1; i += 2 }
              else if (at("*/")) { depth -= 1; i += 2 }
              else { if (src(i) == '\n') { out += '\n'; line += 1 }; i += 1 }
            }
          } else if (c == '"') {
            val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
            val triple = at("\"\"\"")
            stack = Str(triple, interp) :: stack
            emit(if (triple) "\"\"\"" else "\"")
          } else if (c == '\'' && i + 2 < n && src(i + 2) == '\'') {
            emit(src.substring(i, i + 3))
          } else if (c == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
            emit(src.substring(i, i + 4))
          } else if (c == '}' && code.braces == 0 && stack.size > 1) {
            stack = stack.tail // closes a ${…} interpolation
            emit("}")
          } else if (c.isLetter || c == '_') {
            val w = Word.findPrefixOf(src.substring(i, math.min(n, i + 200))).get
            toks += w -> line
            emit(w)
          } else {
            if (c == '{') code.braces += 1
            if (c == '}') code.braces -= 1
            if ("{}()".indexOf(c) >= 0) toks += c.toString -> line
            if (c == '\n') line += 1
            emit(c.toString)
          }
        case Str(triple, interp) =>
          if (triple && at("\"\"\"") && !at("\"\"\"\"")) { stack = stack.tail; emit("\"\"\"") }
          else if (!triple && c == '"') { stack = stack.tail; emit("\"") }
          else if (!triple && c == '\\') emit(src.substring(i, math.min(n, i + 2)))
          else if (interp && at("$$")) emit("$$")
          else if (interp && at("${")) { stack = new Code(0) :: stack; emit("${") }
          else { if (c == '\n') line += 1; emit(c.toString) }
      }
    }
    (out.toString, toks.toSeq)
  }

  /** The public members declared directly in a template body. */
  def publicMembers(file: Path, toks: Seq[(String, Int)], code: Seq[String]): Seq[Member] = {
    val found = ArrayBuffer[Member]()
    // one entry per open brace: Some(owner) for a template body
    var scopes: List[Option[String]] = Nil
    var pending: Option[String] = None
    var parens = 0
    def inTemplate = scopes.headOption.forall(_.isDefined)
    def owner = scopes.headOption.flatten
    for (((t, ln), k) <- toks.zipWithIndex) {
      val next = toks.lift(k + 1).map(_._1).filter(w => Word.pattern.matcher(w).matches)
      t match {
        case "{" => scopes = pending :: scopes; pending = None
        case "}" => scopes = scopes.drop(1)
        case "(" => parens += 1
        case ")" => parens -= 1
        case "object" | "class" | "trait" if next.isDefined =>
          if (t == "object" && inTemplate && isPublic(code(ln - 1), t))
            found += Member(owner, next.get, file, ln)
          pending = next
        case "def" | "val" if parens == 0 && next.isDefined =>
          pending = None
          if (inTemplate && next.get != "main" && isPublic(code(ln - 1), t))
            found += Member(owner, next.get, file, ln)
        case _ =>
      }
    }
    found.toSeq
  }

  private def isPublic(line: String, keyword: String): Boolean = {
    val before = line.split(s"\\b$keyword\\b", 2).head
    !"\\b(private|protected|override|case)\\b".r.findFirstIn(before).isDefined
  }
}
