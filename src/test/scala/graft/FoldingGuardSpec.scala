package graft

import java.io.File

/** Data-driven generalization of RegistrySpec's object-init-order folding
  * guard (VERDICT r15 task 3).
  *
  * The bug class: Scala object initializers can run circularly (Dedup's
  * SQLs read Corpus members, Corpus's read Dedup's), so a STRICT `val`
  * interpolating a cross-object STRICT `val` whose initializer has not run
  * yet freezes the type's default (0 / 0.0 / null) into the rendered
  * string — and if the folded predicate only bites at scale, the sf0.01
  * gate stays green (`t_split_leakage` shipped `est_jaccard >= 0.0` for 14
  * rounds; one sf0.1 pair exposed it). Worse, which sites freeze depends
  * on WHICH object a JVM touches first: the driver's Verify path happens
  * to initialize in a benign order, but this spec's own first draft
  * value-checked the rendered strings under a test-JVM init order and
  * found twelve sites frozen (BenchSlice → 0, DeltaChanged → 0, whole SQL
  * fragments → null) that render correctly in the driver JVM. Ordering-
  * dependent correctness is not correctness, so the rule is now total and
  * needs no hand-kept registry:
  *
  *  1. NO strict val may interpolate ANY cross-object member — val, lazy
  *     val, or def (zero-arg or called): a def's OUTPUT is frozen into
  *     the caller just the same, computed against whatever mid-init state
  *     the target object happens to be in. The member may be named
  *     qualified (`${Obj.member}`, anywhere inside the interpolation), by
  *     a bare name an `import Obj._` / `import Obj.{member}` brings into
  *     scope, or reached through a chain of SAME-object defs and lazy
  *     vals the strict val interpolates or calls (their output is
  *     computed during the strict val's own initialization). Every such
  *     site must be a `lazy val`, forced at first runtime use when every
  *     object initializer has completed (round 16 converted all 41 sites);
  *  2. NO strict val may interpolate a SAME-object strict val declared on
  *     a later line (the same freeze, no cycle needed);
  *  3. every registry list (`all`) is a `lazy val`: a strict one forces
  *     each oracle SQL it names inside its object's initializer, so the
  *     lazy SQLs of rule 1 would freeze all the same.
  *
  * Literal `final val`s are exempt: a compile-time constant has no field
  * initialization at all ([[graft.ext.Similarity]] `Sq8Levels`). The
  * runtime oracle gate then value-pins the rendered strings end-to-end
  * (RegistrySpec + the DuckDB compare) along the driver's actual
  * initialization path.
  */
class FoldingGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** kind: "val" (strict), "lazy", "def", "const" (final val literal). */
  private case class Member(obj: String, name: String, kind: String, file: String,
                            line: Int, body: String)

  private val memberRe =
    """^  (?:private(?:\[\w+\])?\s+)?(?:protected(?:\[\w+\])?\s+)?(final\s+)?(lazy\s+)?(val|def)\s+(\w+)""".r
  private val objectRe = """^\s*(?:private\s+)?object\s+(\w+)""".r
  private val constBodyRe = """(?s).*=\s*-?(?:\d+(?:\.\d+)?(?:[eE]-?\d+)?[LlDdFf]?|"[^"\n]*")\s*(?://.*)?""".r

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def parse(obj0: String, fileName: String, text: String): Seq[Member] = {
    val lines = text.split("\n", -1).toVector
    var obj = obj0
    val decls = lines.zipWithIndex.flatMap { case (l, i) =>
      objectRe.findFirstMatchIn(l).foreach { m => if (obj.isEmpty) obj = m.group(1) }
      memberRe.findFirstMatchIn(l).map(m =>
        (obj, m.group(1) != null, m.group(2) != null, m.group(3), m.group(4), i))
    }
    decls.zipWithIndex.map { case ((o, fin, lz, kw, name, i), idx) =>
      val end = if (idx + 1 < decls.length) decls(idx + 1)._6 else lines.length
      val kind =
        if (lz) "lazy"
        else if (kw == "def") "def"
        else if (fin && constBodyRe.matches(lines(i))) "const"
        else "val"
      Member(o, name, kind, fileName, i + 1, lines.slice(i, end).mkString("\n"))
    }
  }

  private def readUtf8(f: File): String =
    // UTF_8-decode with replacement: one source file carries bytes the
    // platform default charset rejects
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val members: Seq[Member] =
    scalaFiles(new File("src/main/scala/graft")).flatMap(f => parse("", f.getPath, readUtf8(f)))

  /** Members of objects NESTED inside a top-level object (ADVICE r16:
    * memberRe's two-space anchor skips them) — each nested block is
    * dedented by its extra indentation and re-parsed under the nested
    * object's name, so rules 1-2 apply at any nesting depth the codebase
    * actually uses (one level today: [[graft.multimodal.Multimodal.StubCodec]]). */
  private lazy val nestedMembers: Seq[Member] =
    scalaFiles(new File("src/main/scala/graft")).flatMap { f =>
      val lines = readUtf8(f).split("\n", -1).toVector
      val nestedRe = """^(\s+)(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
      lines.zipWithIndex.flatMap { case (l, i) =>
        nestedRe.findFirstMatchIn(l).toSeq.flatMap { m =>
          val pad = m.group(1)
          val body = lines.drop(i + 1).takeWhile(b => !b.startsWith(pad + "}"))
          parse(m.group(2), s"${f.getPath}:${i + 1}(nested)",
            body.map(_.stripPrefix(pad)).mkString("\n"))
        }
      }
    }

  private lazy val allMembers: Seq[Member] = members ++ nestedMembers

  private lazy val byObj: Map[String, Map[String, Member]] =
    allMembers.groupBy(_.obj).map { case (o, ms) => o -> ms.map(m => m.name -> m).toMap }

  // Obj.member anywhere inside an interpolation — greedy dotted prefix so
  // the LAST two segments are captured (handles
  // ${graft.ext.Corpus.DeltaChanged} and ${r6Sql(Smoothing.meanSql(..))}).
  // Plain refs and def CALLS are flagged alike: a def's output is frozen
  // into the caller just the same, computed against mid-init target state
  // (rule 1 above; the self-check pins a baseHashSql("q") call firing).
  private val crossRe = """(?:\w+\.)*(\w+)\.(\w+)""".r
  // a bare name inside an interpolation: a same-object member or one an
  // import brought into scope
  private val bareRe = """(?<![\w.])([A-Za-z_]\w*)""".r
  // $name / ${name} — the same-object shorthand
  private val selfRe = """\$\{?(\w+)\}?""".r
  // import a.b.Obj._ / import a.b.Obj.{x, y}
  private val importRe = """^\s*import\s+(?:[\w.]*\.)?(\w+)\.(?:_|\{([^}]*)\})\s*$""".r

  /** The interpolated expressions of a body: each brace-balanced `${...}`
    * and each `$name` (`$$` is a literal dollar). */
  private def interpolations(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < body.length - 1) {
      val c = body(i + 1)
      if (body(i) != '$') i += 1
      else if (c == '$') i += 2
      else if (c == '{') {
        var depth = 1
        var j = i + 2
        while (j < body.length && depth > 0) {
          if (body(j) == '{') depth += 1 else if (body(j) == '}') depth -= 1
          j += 1
        }
        out += body.substring(i + 2, j - 1)
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < body.length && (body(j).isLetterOrDigit || body(j) == '_')) j += 1
        out += body.substring(i + 1, j)
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Source file -> its imports of single objects: (object name, the
    * selected names, or None for a wildcard). */
  private def importsOf(text: String): Seq[(String, Option[Set[String]])] =
    text.split("\n").toSeq.flatMap(l => importRe.findFirstMatchIn(l)).map { m =>
      m.group(1) -> Option(m.group(2)).map(_.split(",").map(_.trim)
        .filterNot(_.contains("=>")).toSet)
    }

  private def fileOf(m: Member): String = m.file.takeWhile(_ != ':')

  /** Every cross-object non-constant member `m` freezes into its value:
    * qualified refs, imported bare names, and — transitively — the
    * cross-object refs of the same-object defs and lazy vals it names
    * (interpolated, or called anywhere in `m`'s own initializer). */
  private def crossValRefs(m: Member, index: Map[String, Map[String, Member]],
                           imports: Map[String, Seq[(String, Option[Set[String]])]] =
                             importsByFile): Seq[Member] = {
    val own = index.getOrElse(m.obj, Map.empty)
    def imported(name: String): Seq[Member] = for {
      (o, sel) <- imports.getOrElse(fileOf(m), Nil) if o != m.obj && sel.forall(_(name))
      t <- index.get(o).flatMap(_.get(name)).toSeq
    } yield t
    def direct(x: Member): (Seq[Member], Seq[Member]) = {
      val exprs = interpolations(x.body).map(_.replaceAll("\"[^\"]*\"", "\"\""))
      // the initializer's own code: string literals and comments removed
      val code = if (x ne m) Nil
        else Seq(x.body.replaceAll("(?s)\"\"\".*?\"\"\"|\"[^\"\n]*\"|/\\*.*?\\*/|//[^\n]*", " "))
      val qualified = for {
        e <- exprs; r <- crossRe.findAllMatchIn(e).toSeq if r.group(1) != x.obj
        t <- index.get(r.group(1)).flatMap(_.get(r.group(2))).toSeq
      } yield t
      val bare = exprs.flatMap(e => bareRe.findAllMatchIn(e).map(_.group(1))).distinct
      val called = code.flatMap(e => bareRe.findAllMatchIn(e).map(_.group(1)))
      val same = (bare ++ called).distinct.flatMap(own.get).filter(t => t.name != x.name &&
        (t.kind == "def" || t.kind == "lazy"))
      (qualified ++ bare.filterNot(own.contains).flatMap(imported), same)
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(x: Member): Seq[Member] =
      if (!seen.add(x.name)) Nil
      else {
        val (cross, same) = direct(x)
        cross ++ same.flatMap(walk)
      }
    walk(m).filter(_.kind != "const").distinct
  }

  private lazy val importsByFile: Map[String, Seq[(String, Option[Set[String]])]] =
    scalaFiles(new File("src/main/scala/graft")).map(f => f.getPath -> importsOf(readUtf8(f))).toMap

  test("no strict val interpolates any cross-object member — make it a lazy val") {
    val bad = for {
      m <- allMembers if m.kind == "val"
      t <- crossValRefs(m, byObj)
    } yield s"  ${m.file}:${m.line} val ${m.name} -> ${t.obj}.${t.name} (${t.kind})"
    assert(bad.isEmpty,
      "strict vals freezing cross-object state at init (rendering depends on " +
        "which object a JVM touches first) — make each caller a lazy val:\n" +
        bad.distinct.mkString("\n"))
  }

  test("no strict val interpolates a later-declared strict val of its own object") {
    val bad = for {
      m <- allMembers if m.kind == "val"
      r <- selfRe.findAllMatchIn(m.body).map(_.group(1)).toSeq.distinct
      t <- byObj.getOrElse(m.obj, Map.empty).get(r).toSeq
      if t.kind == "val" && t.line > m.line && t.file == m.file
    } yield s"  ${m.file}:${m.line} val ${m.name} -> forward $$$r (declared at :${t.line})"
    assert(bad.isEmpty,
      "same-object forward interpolation freezes the type default — move the " +
        "constant above its user or make the user lazy:\n" + bad.mkString("\n"))
  }

  test("registry lists are lazy: no object initializer forces its oracle SQLs") {
    // seen: with strict lists, a fresh JVM that touched Corpus first
    // rendered `doc_id % 0` into the dd_clusters_rolled and s_ivf_* oracles
    val strict = allMembers.filter(m => m.name == "all" && m.kind != "lazy")
    assert(allMembers.count(_.name == "all") >= 10, "scan lost the registry lists")
    assert(strict.isEmpty,
      "strict registry lists: " + strict.map(m => s"${m.file}:${m.line}").mkString(", "))
  }

  test("scanner self-check: a synthetic offending source is detected (vacuity control)") {
    val sample = parse("Fake", "fake.scala",
      """object Fake {
        |  val AConst = 3
        |  final val BConst = 4
        |  lazy val okSql = s"x ${graft.ext.Corpus.DeltaChanged} y"
        |  val badSql = s"a ${graft.ext.Corpus.DeltaChanged} b ${Dedup.baseHashSql("q")} c $LaterVal"
        |  val LaterVal = 9
        |}""".stripMargin)
    val index = byObj + ("Fake" -> sample.map(m => m.name -> m).toMap)
    val bySample = sample.map(m => m.name -> m).toMap
    assert(bySample("AConst").kind == "val" && bySample("BConst").kind == "const")
    assert(bySample("okSql").kind == "lazy" && bySample("badSql").kind == "val")
    // rule 1 fires on BOTH the strict val's cross-object val ref AND its
    // cross-object def call (the def's output freezes just the same)
    val hits = crossValRefs(bySample("badSql"), index).map(t => (t.obj, t.name))
    assert(hits == Seq(("Corpus", "DeltaChanged"), ("Dedup", "baseHashSql")), s"got $hits")
    // the lazy caller is exempt from rule 1 (only strict vals are scanned)
    val rule1 = sample.filter(_.kind == "val").flatMap(m => crossValRefs(m, index))
    assert(rule1.map(t => (t.obj, t.name)) ==
      Seq(("Corpus", "DeltaChanged"), ("Dedup", "baseHashSql")))
    // rule 2 fires on the same-object forward ref
    val fwd = selfRe.findAllMatchIn(bySample("badSql").body).map(_.group(1)).toSeq
      .flatMap(n => bySample.get(n)).filter(t => t.kind == "val" && t.line > bySample("badSql").line)
    assert(fwd.map(_.name) == Seq("LaterVal"), s"got $fwd")
  }

  test("scanner self-check: imported names and same-object def chains are followed") {
    val text =
      """object Fake2 {
        |  import Pushes._
        |  import graft.ops.Num.{r6Sql}
        |  private def chainSql: String = s"x ${Dims.cleanCitySql("n_name")} y"
        |  lazy val lazyChainSql = s"z $chainSql"
        |  val viaImport = s"a $MinPushesPerCity b ${r6Sql("avg(x)")}"
        |  val viaChain = s"a $lazyChainSql b"
        |  val clean = s"a ${1 + 2} b"
        |  val viaCall: String = chainSql + "x"
        |}""".stripMargin
    val sample = parse("Fake2", "fake2.scala", text)
    val index = byObj + ("Fake2" -> sample.map(m => m.name -> m).toMap)
    val imports = Map("fake2.scala" -> importsOf(text))
    def hits(name: String) = crossValRefs(sample.find(_.name == name).get, index, imports)
      .map(t => (t.obj, t.name))
    assert(hits("viaImport") == Seq(("Pushes", "MinPushesPerCity"), ("Num", "r6Sql")),
      s"got ${hits("viaImport")}")
    assert(hits("viaChain") == Seq(("Dims", "cleanCitySql")), s"got ${hits("viaChain")}")
    assert(hits("clean").isEmpty)
    assert(hits("viaCall") == Seq(("Dims", "cleanCitySql")), s"got ${hits("viaCall")}")
    // the real tree's import scan sees Reference's object import
    assert(importsByFile.exists { case (f, is) =>
      f.endsWith("Reference.scala") && is.contains("Pushes" -> None) })
  }

  test("nested object names stay disjoint from top-level objects (index shadowing guard)") {
    // byObj keys members by BARE object name; a nested object sharing a
    // top-level object's name would merge into (and partially shadow) the
    // real object's member map, silently weakening rule 1's lookup. Keep
    // the namespaces disjoint rather than qualify — one nested object
    // exists today and new ones should pick fresh names.
    val tops = members.map(_.obj).toSet
    val clash = nestedMembers.map(_.obj).toSet.intersect(tops)
    assert(clash.isEmpty,
      s"nested objects shadow top-level objects in the guard index: $clash — rename them")
    // ADVICE r17: two NESTED objects sharing a bare name in different
    // files would also merge member maps in byObj and could mask a rule-1
    // offender. Rule 2 is already file-guarded (t.file == m.file), so the
    // remaining hole is exactly this collision — keep nested names
    // globally unique rather than qualify the index (the codebase has one
    // nested object; new ones pick fresh names or this fails loudly).
    val nestedDup = nestedMembers.groupBy(_.obj)
      .map { case (o, ms) => o -> ms.map(_.file).toSet }
      .filter(_._2.size > 1)
    assert(nestedDup.isEmpty,
      s"same-named nested objects in different files merge in the guard index: $nestedDup — rename them")
  }

  test("nested-object self-check: nested members are scanned, offenders detected") {
    // the one real nested object is covered
    assert(nestedMembers.exists(m => m.obj == "StubCodec" && m.name == "decode"),
      s"nested scan lost StubCodec.decode — got ${nestedMembers.map(m => s"${m.obj}.${m.name}")}")
    // a synthetic nested offender is detected by the same machinery: the
    // dedent-and-reparse path classifies its strict val and rule 1 fires
    val lines =
      """object Outer {
        |  object Inner {
        |    val badSql = s"x ${graft.ext.Corpus.DeltaChanged} y"
        |    lazy val okSql = s"x ${graft.ext.Corpus.DeltaChanged} y"
        |  }
        |}""".stripMargin.split("\n", -1).toVector
    val nestedRe = """^(\s+)(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    val inner = lines.zipWithIndex.flatMap { case (l, i) =>
      nestedRe.findFirstMatchIn(l).toSeq.flatMap { m =>
        val pad = m.group(1)
        val body = lines.drop(i + 1).takeWhile(b => !b.startsWith(pad + "}"))
        parse(m.group(2), "fake.scala(nested)", body.map(_.stripPrefix(pad)).mkString("\n"))
      }
    }
    val byName = inner.map(m => m.name -> m).toMap
    assert(byName("badSql").kind == "val" && byName("okSql").kind == "lazy", s"got $inner")
    val hits = crossValRefs(byName("badSql"), byObj).map(t => (t.obj, t.name))
    assert(hits == Seq(("Corpus", "DeltaChanged")), s"got $hits")
  }

  test("scan self-check: the known member classifications hold in the real tree") {
    // the r15 fix and the r16 conversions must stay lazy
    assert(byObj("Corpus")("splitLeakageSql").kind == "lazy")
    assert(byObj("Similarity")("knnSq8Sql").kind == "lazy")
    assert(byObj("Dedup")("fuzzyDecontaminateSql").kind == "lazy")
    assert(byObj("Curation")("curationFunnelSql").kind == "lazy")
    assert(byObj("Multimodal")("mediaClustersRolledSql").kind == "lazy")
    // reached only through `import Pushes._` and the cityJoinedSql def
    assert(byObj("Reference")("c2Sql").kind == "lazy")
    assert(byObj("Reference")("c4Sql").kind == "lazy")
    // literal final vals are compile-time constants, exempt by design
    assert(byObj("Similarity")("Sq8Levels").kind == "const")
    // the constants the r15 bug froze are still strict vals the rules watch
    assert(byObj("Corpus")("BenchSlice").kind == "val")
    assert(byObj("Dedup")("ClusterEstMin").kind == "val")
  }
}
