package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One implementation per operator: every public [[Graft]] def must be
  * reachable from a registry module (`ops/`, `streaming/`,
  * `pipelines/` and `SparkEntry`'s query map), directly or through
  * calls inside `Graft.scala`. A registry query that inlines its own
  * copy of a facade operator leaves the DuckDB oracle checking the
  * copy while users call the facade; this spec fails when that
  * happens, naming the orphaned operator.
  *
  * A pure source scan (no SparkSession). Comments and string literals
  * are blanked first, so a scaladoc link or an error message naming
  * an operator does not count as a call.
  */
class FacadeReachabilitySpec extends AnyFunSuite {

  /** Public facade defs no registry query can reach, each with the
    * reason it is not bound. Entries leave when a query binds them;
    * the last test fails on an entry that has become reachable, and
    * on a set grown past [[MaxExempt]]. */
  private val exempt = Map(
    "topKPerGroup" ->
      "the window-plan reference the topKPerGroupNative tests compare against",
    "expireSnapshotsOlderThan" ->
      "selects versions by wall-clock manifest mtimes, so no oracle answer can pin it",
    "dedupNear" ->
      ("anti-joins its input against the (id, kept) set d08 gates, which d08 " +
        "builds with the same nearDupPairs and componentMin calls"),
    "pageRankFrom" ->
      ("q119 runs its warm-start loop through pageRankRounds over one shared " +
        "edge checkpoint; the edge checkpoint pageRankFrom adds is pageRank's, " +
        "which q70 reaches"))

  /** The set may only shrink: lower this when an entry leaves. */
  private val MaxExempt = 4

  private val src = Paths.get("src/main/scala/graft")

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  /** `s` with comments and string/char literals replaced by spaces
    * (newlines kept, so line structure survives). */
  private def code(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    def blank(to: Int): Unit = {
      while (i < to && i < s.length) {
        out += (if (s(i) == '\n') '\n' else ' ')
        i += 1
      }
    }
    def skipTo(end: String, from: Int): Int = {
      val j = s.indexOf(end, from)
      if (j < 0) s.length else j + end.length
    }
    while (i < s.length) {
      if (s.startsWith("//", i)) blank(skipTo("\n", i) - 1)
      else if (s.startsWith("/*", i)) blank(skipTo("*/", i + 2))
      else if (s.startsWith("\"\"\"", i)) blank(skipTo("\"\"\"", i + 3))
      else if (s(i) == '"') {
        var j = i + 1
        while (j < s.length && s(j) != '"' && s(j) != '\n')
          j += (if (s(j) == '\\') 2 else 1)
        blank(j + 1)
      } else if (s(i) == '\'' && i + 2 < s.length && s(i + 2) == '\'') blank(i + 3)
      else if (s.startsWith("'\\", i) && i + 3 < s.length && s(i + 3) == '\'')
        blank(i + 4)
      else { out += s(i); i += 1 }
    }
    out.toString
  }

  private val member =
    "^  ((?:private(?:\\[\\w+\\])?\\s+|protected\\s+|final\\s+|override\\s+)*)" +
      "(?:def|val|lazy val|var|object|class|case class)\\s+([A-Za-z_]\\w*)"
  private val memberRe = member.r

  /** `Graft`'s members in source order: (name, public def?, body). A
    * body runs from the member's line to the next member's. */
  private lazy val members: Seq[(String, Boolean, String)] = {
    val lines = code(read(src.resolve("Graft.scala"))).split("\n", -1).toSeq
    val starts = lines.zipWithIndex.flatMap { case (l, i) =>
      memberRe.findPrefixMatchOf(l).map { m =>
        val publicDef = m.group(1).isEmpty && l.trim.startsWith("def ")
        (i, m.group(2), publicDef)
      }
    }
    starts.zip(starts.drop(1).map(_._1) :+ lines.size).map {
      case ((from, name, pub), to) =>
        (name, pub, lines.slice(from, to).mkString("\n"))
    }
  }

  private lazy val publicDefs: Set[String] =
    members.collect { case (n, true, _) => n }.toSet

  /** Every Graft member reachable from a registry module. */
  private lazy val reachable: Set[String] = {
    val names = members.map(_._1).toSet
    val ident = "[A-Za-z_]\\w*".r
    val calls: Map[String, Set[String]] = members.groupBy(_._1).map {
      case (n, ms) =>
        n -> ms.flatMap(m => ident.findAllIn(m._3)).toSet.intersect(names)
    }
    val registryFiles = Seq("ops", "streaming", "pipelines").flatMap { d =>
      Files.walk(src.resolve(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    } :+ src.resolve("SparkEntry.scala")
    val roots = registryFiles.flatMap { f =>
      "\\bGraft\\.([A-Za-z_]\\w*)".r.findAllMatchIn(code(read(f))).map(_.group(1))
    }.toSet.intersect(names)
    var seen = Set.empty[String]
    var todo = roots.toList
    while (todo.nonEmpty) {
      val n = todo.head
      todo = todo.tail
      if (!seen(n)) {
        seen += n
        todo = calls.getOrElse(n, Set.empty).toList ++ todo
      }
    }
    seen
  }

  test("the source scan sees the facade (sanity)") {
    // a scan that silently finds nothing would pass the next test
    assert(publicDefs.size > 100, s"only ${publicDefs.size} public Graft defs found")
    assert(Set("nearDupPairs", "pageRank", "asOfJoin").subsetOf(publicDefs))
    assert(!publicDefs.contains("checkpointOn"), "private defs counted as public")
    assert(reachable.contains("pageRank") && reachable.contains("checkpointOn"))
  }

  test("every public Graft def is reachable from a registry module") {
    val orphans = publicDefs -- reachable -- exempt.keySet
    assert(orphans.isEmpty,
      s"public Graft defs no registry query reaches: ${orphans.toSeq.sorted.mkString(", ")}" +
        " — bind a registry query to each (not a copy of it), or exempt it with a reason")
  }

  test("every exemption names a public Graft def that is still unreachable") {
    assert(exempt.size <= MaxExempt,
      s"${exempt.size} exemptions, at most $MaxExempt allowed — bind the new orphan instead")
    val unknown = exempt.keySet -- publicDefs
    assert(unknown.isEmpty, s"exemptions for no public Graft def: $unknown")
    val bound = exempt.keySet.intersect(reachable)
    assert(bound.isEmpty, s"now reachable — drop their exemptions: $bound")
  }
}
