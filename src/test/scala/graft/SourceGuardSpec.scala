package graft

import java.io.File

/** Source guard over `src/main` (the [[FoldingGuardSpec]] approach: scan
  * the tree, fail on the pattern, self-check the scanner) for two rules
  * no compiler checks:
  *
  *  1. Temp dirs are created in ONE place: `createTempDirectory` appears
  *     only in `ops/FrozenCaches.scala`, whose `DirMemo` owns every
  *     on-disk frozen artifact and deletes its dir when the build throws,
  *     on eviction, on `clearAll()` and at JVM exit. A second creator
  *     needs its own delete code, and leaks a dir on every path it
  *     forgets.
  *  2. No catch clause discards a Throwable: a catch-all case (`_`,
  *     `_: Throwable`, `_: Exception`, `NonFatal(_)`, or a binder the
  *     handler never mentions) must use what it caught — report its cause
  *     or rethrow it. A case for one specific exception class (a missing
  *     file read as "no data") is a decision, not a swallow, and passes.
  */
class SourceGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private lazy val sources: Seq[(String, String)] =
    scalaFiles(new File("src/main/scala")).map(f =>
      f.getPath -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))

  /** `src` with every comment (and, unless `keepStrings`, every string
    * literal's text) replaced by spaces. Newlines and offsets are kept, so
    * an index into one form is an index into the others. Interpolated
    * `${...}` blocks are scanned as code. */
  private def blank(src: String, keepStrings: Boolean): String = {
    val out = src.toCharArray
    val n = src.length
    def spaceOut(a: Int, b: Int): Unit =
      (a until math.min(b, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def interpolated(j: Int): Boolean =
      j > 0 && (Character.isLetterOrDigit(src(j - 1)) || src(j - 1) == '_')
    def string(start: Int): Int = {
      val triple = src.startsWith("\"\"\"", start)
      val interp = interpolated(start)
      var j = start + (if (triple) 3 else 1)
      var seg = j
      while (j < n && !(if (triple) src.startsWith("\"\"\"", j) else src(j) == '"')) {
        if (!triple && src(j) == '\\') j += 2
        else if (interp && src.startsWith("$$", j)) j += 2
        else if (interp && src.startsWith("${", j)) {
          if (!keepStrings) spaceOut(seg, j)
          j = code(j + 2, nested = true)
          seg = j
        } else j += 1
      }
      if (!keepStrings) spaceOut(seg, j)
      if (triple) { j += 3; while (j < n && src(j) == '"') j += 1 } else j += 1
      j
    }
    def code(start: Int, nested: Boolean): Int = {
      var j = start
      var depth = 0
      while (j < n) {
        val c = src(j)
        if (src.startsWith("//", j)) {
          val e = src.indexOf('\n', j)
          val end = if (e < 0) n else e
          spaceOut(j, end); j = end
        } else if (src.startsWith("/*", j)) {
          var k = j + 2
          var open = 1
          while (k < n && open > 0) {
            if (src.startsWith("/*", k)) { open += 1; k += 2 }
            else if (src.startsWith("*/", k)) { open -= 1; k += 2 }
            else k += 1
          }
          spaceOut(j, k); j = k
        } else if (c == '"') j = string(j)
        else if (c == '\'' && j + 2 < n && src(j + 1) == '\\') j = src.indexOf('\'', j + 3) + 1
        else if (c == '\'' && j + 2 < n && src(j + 2) == '\'') j += 3
        else if (nested && c == '{') { depth += 1; j += 1 }
        else if (nested && c == '}') {
          if (depth == 0) return j + 1
          depth -= 1; j += 1
        } else j += 1
      }
      j
    }
    code(0, nested = false)
    new String(out)
  }

  private val catchAll =
    """(?:java\.lang\.)?(?:Throwable|Exception)"""
  private val discardRe =
    s"""_|_\\s*:\\s*$catchAll|(?:[\\w.]*\\.)?NonFatal\\(\\s*_\\s*\\)""".r
  private val binderRe =
    s"""(\\w+)(?:\\s*:\\s*$catchAll)?|(?:[\\w.]*\\.)?NonFatal\\(\\s*(\\w+)\\s*\\)""".r

  /** Index just past the bracket matching the one at `open` in `code`. */
  private def closing(code: String, open: Int): Int = {
    var depth = 0
    var j = open
    while (j < code.length) {
      code(j) match {
        case '{' | '(' => depth += 1
        case '}' | ')' =>
          depth -= 1
          if (depth == 0) return j + 1
        case _ =>
      }
      j += 1
    }
    code.length
  }

  /** Catch-all cases that discard what they caught, as `file:line: case`. */
  private def silentCatches(file: String, src: String): Seq[String] = {
    val code = blank(src, keepStrings = false)
    val text = blank(src, keepStrings = true)
    """\bcatch\b""".r.findAllMatchIn(code).toSeq.flatMap { m =>
      val open = code.indexWhere(!_.isWhitespace, m.end)
      if (open < 0 || code(open) != '{') Nil
      else {
        val end = closing(code, open) - 1
        // case starts at bracket depth 0 inside the block
        val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
        var depth = 0
        var j = open + 1
        while (j < end) {
          code(j) match {
            case '{' | '(' => depth += 1
            case '}' | ')' => depth -= 1
            case _ =>
          }
          if (depth == 0 && code.startsWith("case", j) &&
              !Character.isLetterOrDigit(code(j - 1)) &&
              !Character.isLetterOrDigit(code(j + 4))) starts += j
          j += 1
        }
        starts.toSeq.zip(starts.toSeq.drop(1) :+ end).flatMap { case (a, b) =>
          val arrow = code.indexOf("=>", a)
          val pattern = code.substring(a + 4, arrow).split("\\bif\\b")(0).trim
          val body = text.substring(arrow + 2, b)
          val silent =
            if (discardRe.matches(pattern)) true
            else pattern match {
              case binderRe(x, y) =>
                val name = Option(x).getOrElse(y)
                !s"\\b$name\\b".r.findFirstIn(body).isDefined
              case _ => false
            }
          if (!silent) Nil
          else {
            val line = src.substring(0, a).count(_ == '\n') + 1
            Seq(s"$file:$line: case $pattern =>${body.linesIterator.next()}")
          }
        }
      }
    }
  }

  test("src/main creates temp dirs only in ops/FrozenCaches.scala") {
    def creators(src: String) =
      "createTempDirectory".r.findAllIn(blank(src, keepStrings = false)).size
    val (owner, rest) = sources.partition(_._1.endsWith("ops/FrozenCaches.scala"))
    assert(owner.size === 1 && creators(owner.head._2) >= 1,
      "the scan no longer sees FrozenCaches' own temp-dir creation")
    val offenders = rest.filter { case (_, src) => creators(src) > 0 }.map(_._1)
    assert(offenders.isEmpty,
      s"temp dirs created outside FrozenCaches (use a FrozenCaches.DirMemo): $offenders")
  }

  test("src/main has no catch clause that discards a Throwable") {
    val offenders = sources.flatMap { case (f, src) => silentCatches(f, src) }
    assert(offenders.isEmpty,
      s"catch-all cases that drop their cause (report or rethrow it):\n${offenders.mkString("\n")}")
  }

  test("scanner self-check: silent catch-alls are detected; used and specific ones pass") {
    val src =
      """object X {
        |  // try a catch { case _: Throwable => () }   (a comment: ignored)
        |  val s = "catch { case _ => () }"
        |  def a = try f() catch { case _: Throwable => () }
        |  def b = try f() catch { case e: Throwable => () }
        |  def c = try f() catch {
        |    case scala.util.control.NonFatal(_) => 0
        |  }
        |  def d = try f() catch { case e: Exception => println(s"failed: ${e.getMessage}") }
        |  def e = try f() catch { case _: java.io.FileNotFoundException => 0L }
        |  def g = try f() catch {
        |    case e: IllegalStateException => 1
        |    case NonFatal(t) => throw new RuntimeException(t)
        |    case other => 2
        |  }
        |  def h = try f() catch { case e: Throwable => err.set(e) } finally { q.map { case x => x } }
        |  def i = 'x'; def j = '"'; def k = try f() catch { case _: Throwable => throw new Error("lost") }
        |}""".stripMargin
    val lines = silentCatches("X.scala", src).map(_.split(":")(1).toInt)
    assert(lines === Seq(4, 5, 7, 14, 17))
  }
}
