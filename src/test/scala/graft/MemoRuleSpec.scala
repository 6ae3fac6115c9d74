package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One memo type: the operator modules keep their session-resident state
  * in a [[graft.util.SessionMemo]], never in a hand-rolled TrieMap memo
  * with its own spelling of the session key. */
class MemoRuleSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")
  private val moduleDirs = Seq("llm", "analytics", "etl", "streaming", "tools")
    .map(mainRoot.resolve)

  private def sources(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("operator modules hold no hand-rolled session memo") {
    moduleDirs.foreach(d => assert(Files.isDirectory(d), s"missing module dir $d"))
    val files = moduleDirs.flatMap(sources)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("TrieMap") || line.contains("applicationId + \"|\"")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "keep session-resident state in a graft.util.SessionMemo:\n" + offenders.mkString("\n"))
  }

  /** Each line of a source cut down to the code that sits directly in an
    * `object` body: comments, string and char literals, and everything
    * inside a nested block (a method body, a lambda, a class body) drop. */
  private def objectLevel(lines: Seq[String]): Seq[String] = {
    val ObjectDecl = """\bobject\s+\w+""".r
    val CharLit = """'\\?.'""".r
    var scopes = List.empty[Boolean] // open braces, innermost first; true = object body
    var inComment = false
    var literal = "" // the open string delimiter, if any
    lines.map { line =>
      val code, out = new StringBuilder
      var i = 0
      while (i < line.length) {
        val rest = line.substring(i)
        if (inComment) {
          if (rest.startsWith("*/")) { inComment = false; i += 2 } else i += 1
        } else if (literal.nonEmpty) {
          if (literal == "\"" && rest.startsWith("\\")) i += 2
          else if (rest.startsWith(literal)) { i += literal.length; literal = "" }
          else i += 1
        } else if (rest.startsWith("//")) i = line.length
        else if (rest.startsWith("/*")) { inComment = true; i += 2 }
        else if (rest.startsWith("\"\"\"")) { literal = "\"\"\""; i += 3 }
        else if (rest.startsWith("\"")) { literal = "\""; i += 1 }
        else CharLit.findPrefixOf(rest) match {
          case Some(lit) => i += lit.length
          case None =>
            line(i) match {
              case '{' => scopes = ObjectDecl.findFirstIn(code).nonEmpty :: scopes
              case '}' => scopes = scopes.drop(1)
              case c => if (scopes.headOption.contains(true)) out += c
            }
            code += line(i)
            i += 1
        }
      }
      out.toString
    }
  }

  test("operator modules hold no JVM-global mutable state") {
    // an object-level var, @volatile or atomic field is one value for
    // every session and thread in the JVM: pass plan choices as arguments
    // instead. Method-local vars are exempt.
    val Global = """\bvar\b|@volatile|\batomic\.|\bAtomic[A-Z]""".r
    val files = Seq("llm", "analytics", "etl", "streaming").map(mainRoot.resolve).flatMap(sources)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (code, i) <- objectLevel(Files.readAllLines(f).asScala.toSeq).zipWithIndex
      if Global.findFirstIn(code).nonEmpty
    } yield s"$f:${i + 1}: ${code.trim}"
    assert(offenders.isEmpty,
      "keep operator state out of object-level mutable fields:\n" + offenders.mkString("\n"))
  }

  test("operator modules never set conf on the session they are handed") {
    // a conf set on the caller's session reaches every query planned on
    // it meanwhile; a newSession() clone has its own SQLConf, and a write
    // takes a per-write option instead
    val ConfWrite = """\b(\w+)\.conf\.(set|unset)\(""".r
    val Clone = """\bval\s+(\w+)\s*=\s*\w+\.newSession\(\)""".r
    val files = Seq("llm", "analytics", "etl", "streaming").map(mainRoot.resolve).flatMap(sources)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq
      clones = lines.flatMap(l => Clone.findAllMatchIn(l).map(_.group(1))).toSet
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      m <- ConfWrite.findAllMatchIn(code)
      if !clones(m.group(1))
    } yield s"$f:${i + 1}: $code"
    assert(offenders.isEmpty,
      "set conf on a newSession() clone, or pass a per-write option:\n" + offenders.mkString("\n"))
  }

  test("operator modules reuse child sessions: newSession() only in streamSession") {
    // a newSession() per call gets a fresh classloader, so every call
    // recompiles its generated classes; graft.util.ChildSession reuses one
    // child per conf set. A stream's child dies with its per-query views
    val Member = """^  (?:private(?:\[\w+\])?\s+)?(?:lazy\s+)?(?:def|val)\s+(\w+)""".r.unanchored
    val files = Seq("llm", "analytics", "etl", "streaming").map(mainRoot.resolve).flatMap(sources)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if code.contains("newSession()")
      member = lines.take(i + 1).reverse.collectFirst { case Member(n) => n }
      if !member.contains("streamSession")
    } yield s"$f:${i + 1}: $code"
    assert(offenders.isEmpty,
      "build child sessions with graft.util.ChildSession:\n" + offenders.mkString("\n"))
  }

  test("index tables have one bucketed writer") {
    val llm = Paths.get("src/main/scala/graft/llm")
    val sites = for {
      f <- sources(llm)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if code.contains("bucketBy(")
    } yield s"$f:${i + 1}: $code"
    assert(sites.size == 1,
      "write every index table through DedupOps' one bucketed writer:\n" + sites.mkString("\n"))
  }

  test("DedupOps persists in executor memory only where a stated reason holds") {
    // every other dedup family reads one stored table; each persist left
    // names why a stored table does not replace it yet
    val reasons = Map(
      "embIndex" -> ("the IVF fit samples it, and that sample depends on how " +
        "its input is partitioned"))
    val src = Files.readAllLines(mainRoot.resolve("llm/DedupOps.scala")).asScala.toSeq
    val Def = """\bdef\s+(\w+)""".r
    val sites = for {
      (line, i) <- src.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if code.contains("memo.persist(")
    } yield src.take(i + 1).reverseIterator.flatMap(l => Def.findFirstMatchIn(l))
      .next().group(1) -> s"DedupOps.scala:${i + 1}: $code"
    val unexplained = sites.filterNot { case (owner, _) => reasons.contains(owner) }
    assert(unexplained.isEmpty && sites.map(_._1).sorted == reasons.keys.toSeq.sorted,
      "a new executor-memory persist in DedupOps needs a stated reason here:\n" +
        sites.map(_._2).mkString("\n"))
  }

  test("streams run through StreamOps' one runner") {
    def codeSites(token: String): Seq[String] = for {
      f <- sources(mainRoot)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if code.contains(token)
    } yield s"$f:${i + 1}: $code"
    val triggers = codeSites("Trigger.AvailableNow")
    assert(triggers.size == 1,
      "run every stream through StreamOps.drain:\n" + triggers.mkString("\n"))
    val streaming = mainRoot.resolve("streaming").toString + "/"
    val reads = codeSites("readStream").filterNot(_.startsWith(streaming))
    assert(reads.isEmpty,
      "define stream sources in graft/streaming:\n" + reads.mkString("\n"))
  }

  test("Bench names no operator module; the warmup list says what each op reads") {
    val Module = """\b(StreamOps|DedupOps|Advanced|Ingest|Queries|Tables)\b""".r
    val bench = mainRoot.resolve("Bench.scala")
    val refs = for {
      (line, i) <- Files.readAllLines(bench).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      m <- Module.findAllIn(code)
    } yield s"$bench:${i + 1}: $m"
    assert(refs.isEmpty,
      "name what an op needs built in graft.llm.Warmup's step list:\n" + refs.mkString("\n"))
  }

  test("every main is a README entry point or forked by a spec") {
    val entryPoints = Set("Bench", "Verify", "ScaleCheck", "util.PlanDump")
    val testText = sources(Paths.get("src/test/scala"))
      .map(f => new String(Files.readAllBytes(f), "UTF-8")).mkString("\n")
    val ObjectDecl = """^\s*object\s+(\w+)""".r.unanchored
    val mains = for {
      f <- sources(mainRoot)
      lines = Files.readAllLines(f).asScala
      i <- lines.indices if lines(i).contains("def main(")
      obj <- lines.take(i).reverse.collectFirst { case ObjectDecl(n) => n }
    } yield {
      val pkg = mainRoot.relativize(f.getParent).toString.replace('/', '.')
      (if (pkg.isEmpty) obj else s"$pkg.$obj", s"$f:${i + 1}")
    }
    assert(mains.exists(_._1 == "Bench"), "scan found no mains: " + mains)
    val orphans = mains.filterNot { case (name, _) =>
      entryPoints(name) || testText.contains("\"graft." + name + "\"")
    }
    assert(orphans.isEmpty,
      "a main must be a README entry point or be forked by a spec under src/test:\n" +
        orphans.map { case (n, at) => s"$at: $n" }.mkString("\n"))
  }

  /** Whether a non-ASCII char sits inside a string literal of `line`:
    * scanning left to right, an unescaped `"` opens or closes a literal
    * and a `//` outside one ends the code. */
  private def nonAsciiInLiteral(line: String): Boolean = {
    var inLiteral = false
    var i = 0
    while (i < line.length && (inLiteral || !line.startsWith("//", i))) {
      val c = line(i)
      if (inLiteral && c > 127) return true
      if (c == '"' && (i == 0 || line(i - 1) != '\\')) inLiteral = !inLiteral
      i += 1
    }
    false
  }

  test("entry-point mains print ASCII: no string literal holds a non-ASCII char") {
    // a non-UTF-8 default charset prints such a char as '?'
    val mains = Seq("Bench.scala", "Verify.scala", "ScaleCheck.scala", "util/PlanDump.scala")
      .map(mainRoot.resolve)
    val offenders = for {
      f <- mains
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if nonAsciiInLiteral(line)
    } yield s"$f:${i + 1}: $code"
    assert(offenders.isEmpty,
      "keep the mains' output ASCII:\n" + offenders.mkString("\n"))
  }
}
