package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of code that no entry point reaches: a
  * name-based source scan, no Spark session.
  *
  * The roots are the declared-query, driver and bench files
  * ([[ReachabilitySpec.RootFiles]]), every perfbench source, the
  * Movies-ETL entry points ([[ReachabilitySpec.RootMembers]]) and every
  * `override` member — Spark calls those, the session extension that
  * registers the engine's expressions among them. From the roots the
  * scan follows member bodies by name with comments stripped: a member
  * is reached when reached text names it. Any same-named member counts
  * as used, so what the scan reports unreached is unused by the program.
  *
  * A public `def` only a spec reaches fails here unless
  * [[ReachabilitySpec.Allowed]] names it with a reason. An allowlist
  * entry the roots reach on their own, or that no longer exists, fails
  * too, so the list cannot go stale.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val scan = Scan(Paths.get("src/main/scala"), Paths.get("perfbench/src"))

  test("every public src/main def is reached from an entry point or allowlisted") {
    val reached = scan.reach(Allowed.keySet)
    val unreached = scan.members
      .filter(m => m.kind == "def" && m.public && !reached(m))
      .map(m => s"${m.key} (${m.file})")
    assert(unreached.isEmpty,
      "defs no entry point reaches — delete them, or allowlist them with " +
        s"a reason:\n${unreached.mkString("\n")}")
  }

  test("every allowlist entry exists and is reached only through the allowlist") {
    val reached = scan.reach(Set.empty)
    val keys = scan.members.map(_.key).toSet
    val missing = Allowed.keySet.filterNot(keys)
    val nowReached = Allowed.keySet.filter(k =>
      scan.members.exists(m => m.key == k && reached(m)))
    assert(missing.isEmpty, s"allowlisted but gone: $missing")
    assert(nowReached.isEmpty, s"allowlisted but reached by a root: $nowReached")
  }
}

object ReachabilitySpec {

  /** Files whose whole text is a root. */
  val RootFiles: Set[String] = Set("Queries.scala", "SparkEntry.scala",
    "Bench.scala", "Verify.scala", "IsolatedBench.scala")

  /** `Owner.member` roots outside the root files. */
  val RootMembers: Set[String] = Set("MoviesEtl.extractTransformLoad",
    "MoviesEtl.extractTransformLoadResilient", "MoviesEtl.load")

  /** Unreached public defs that stay, each with its reason. */
  val Allowed: Map[String, String] = Map(
    "DedupOps.simHashWide" ->
      "per-bit reference the packed simHash is compared against (Round7OpsSpec)",
    "DedupOps.pairsAgainstIndexVerified" ->
      "reference the fused batchEdgesVerified is compared against (Round15OpsSpec)",
    "SimilarityOps.topKDotFast" ->
      "brute-force ranking the IVF search is compared against (DedupSimilaritySpec)",
    "TextOps.bpeMergeStepRelational" ->
      "relational reference for the BpeMergePair kernel (Round13OpsSpec)",
    "TextOps.importanceUnseenPpm" ->
      "driver-side arithmetic the in-plan unseen constant is compared against (Round11OpsSpec)",
    "ImageCodec.encodeJpeg" ->
      "fixture encoder for the JPEG decode and dHash specs")

  /** A member of an object, class or trait body. `text` is its source
    * with comments blanked, up to the next member of the same body; for
    * an object, class or trait it stops at its first member.
    */
  final case class Member(owner: String, name: String, kind: String,
                          public: Boolean, isOverride: Boolean,
                          file: String, text: String) {
    def key: String =
      if (owner.isEmpty) name else s"${owner.split('.').last}.$name"
  }

  final case class Scan(members: Seq[Member], rootText: Seq[String]) {
    private val byName = members.groupBy(_.name)

    /** The members reached from the roots plus `extra` (keys). */
    def reach(extra: Set[String]): Set[Member] = {
      val reached = mutable.Set.empty[Member]
      val seen = mutable.Set.empty[String]
      val work = mutable.Stack.empty[Member]
      def visit(text: String): Unit =
        Ident.findAllIn(text).foreach { w =>
          if (seen.add(w)) byName.getOrElse(w, Nil).foreach(work.push)
        }
      members.filter(m => m.isOverride || RootMembers(m.key) || extra(m.key))
        .foreach(work.push)
      rootText.foreach(visit)
      while (work.nonEmpty) {
        val m = work.pop()
        if (reached.add(m)) visit(m.text)
      }
      reached.toSet
    }
  }

  object Scan {
    def apply(main: Path, perfbench: Path): Scan = {
      val mainFiles = scalaFiles(main)
      val roots = mainFiles.filter(f => RootFiles(f.getFileName.toString)) ++
        scalaFiles(perfbench)
      Scan(mainFiles.flatMap(members),
        roots.map(f => strip(Files.readString(f))._1))
    }
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Token = raw"\b(def|val|var|object|class|trait|type|new)\b|[{}()\[\]=]".r
  private val Name = raw"\s+(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*|[^\sA-Za-z0-9_(\[:{=]+))".r

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  /** (code, struct): `code` is the source with comments blanked; `struct`
    * also blanks string and character literals, so braces and keywords
    * in it are real. Both keep every offset and newline.
    */
  def strip(src: String): (String, String) = {
    val code = src.toCharArray
    val struct = src.toCharArray
    def blank(a: Array[Char], from: Int, to: Int): Unit =
      (from until math.min(to, a.length)).foreach(k => if (a(k) != '\n') a(k) = ' ')
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i) match { case -1 => n; case j => j }
        blank(code, i, e); blank(struct, i, e); i = e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(code, i, j); blank(struct, i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3) match { case -1 => n; case k => k + 3 }
        while (j < n && src(j) == '"') j += 1
        blank(struct, i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        blank(struct, i, j + 1); i = j + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        blank(struct, i, i + 3); i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        blank(struct, i, i + 4); i += 4
      } else i += 1
    }
    (new String(code), new String(struct))
  }

  /** A brace or paren frame of the structure pass: a template body
    * (object/class/trait/anonymous class) collects its members; a block
    * or an argument list hides what it encloses.
    */
  private sealed trait Frame
  private final class Template(val owner: String) extends Frame {
    /** [start, end) of each member; end is -1 while the member is open. */
    val spans: mutable.Buffer[Array[Int]] = mutable.Buffer.empty
    def close(at: Int): Unit = spans.foreach(sp => if (sp(1) < 0) sp(1) = at)
  }
  private case object Block extends Frame
  private case object Parens extends Frame

  private val Containers = Set("object", "class", "trait")
  private val Private = raw"\b(private|protected)\b".r
  private val Override = raw"\boverride\b".r

  /** The members of one file, each with its span. */
  private def members(file: Path): Seq[Member] = {
    val src = Files.readString(file)
    val (code, struct) = strip(src)
    val found = mutable.Buffer.empty[(String, String, String, Boolean, Boolean, Array[Int])]
    val stack = mutable.Stack[Frame](new Template(""))
    var pending: Option[String] = None // a template header awaiting its `{`
    Token.findAllMatchIn(struct).foreach { m =>
      (stack.top, m.matched) match {
        case (_, "(" | "[") => stack.push(Parens)
        case (Parens, ")" | "]") => stack.pop()
        case (Parens, _) | (_, ")" | "]") =>
        case (_, "{") =>
          stack.push(pending.map(new Template(_)).getOrElse(Block))
          pending = None
        case (_, "}") =>
          stack.pop() match { case t: Template => t.close(m.start); case _ => }
          pending = None
        case (_, "=") => pending = None
        case (_, "new") => pending = Some("<anon>")
        case (top, kind) =>
          val nm = Name.pattern.matcher(struct).region(m.end, struct.length)
          val name =
            if (!nm.lookingAt()) "?" else Option(nm.group(1)).getOrElse(nm.group(2))
          top match {
            case t: Template =>
              t.close(m.start)
              val lineStart = struct.lastIndexOf('\n', m.start - 1) + 1
              val prefix = struct.substring(lineStart, m.start)
              val local = stack.exists {
                case Block => true
                case t: Template => t.owner == "<anon>"
                case _ => false
              }
              val owner = stack.reverse.collect {
                case t: Template if t.owner.nonEmpty => t.owner
              }.mkString(".")
              val span = Array(lineStart, -1)
              t.spans += span
              found += ((owner, name, kind,
                !local && Private.findFirstIn(prefix).isEmpty,
                Override.findFirstIn(prefix).isDefined, span))
            case _ =>
          }
          pending = if (Containers(kind)) Some(name) else None
      }
    }
    stack.foreach { case t: Template => t.close(src.length); case _ => }
    val starts = found.map(_._6(0))
    found.toSeq.map { case (owner, name, kind, pub, ovr, span) =>
      val Seq(s, e) = span.toSeq
      // a container's own text stops at its first member
      val end =
        if (Containers(kind)) starts.filter(x => x > s && x < e).minOption.getOrElse(e)
        else e
      Member(owner, name, kind, pub, ovr, file.toString, code.substring(s, end))
    }
  }
}
