package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every object-level public `def` in the engine packages (`functions`,
  * `operators`, `streaming`, `sinks`, `sources`) has a caller in
  * `src/main` or `streambench/src`, or an entry here that says why not.
  *
  * A caller is a use in the comment- and string-stripped sources outside
  * the def's own definition that resolves to the def's object: `Obj.name`,
  * `name` inside `Obj`'s own file, or `name` in a file importing `Obj._`
  * or `Obj.name` (a scaladoc `[[name]]` is not a caller; an overload's
  * body or another object's use is; a namesake is not). A def with no
  * caller must be in [[kept]], with a reason citing one of the rules:
  *  - (a) ConvergenceSpec replays it against an oracle-gated query;
  *  - (b) it is a writer, reader, compaction, rebuild or foreachBatch
  *    stream entry of a maintained-state protocol (the crash-point
  *    enumeration's subjects);
  *  - (c) a spec uses it as the reference for a shipped function;
  *  - (d) it is the course's Kafka surface (needs a broker).
  * or in [[deferred]]: surface with no rule, still to be deleted, kept
  * until then only because the named spec tests go with it.
  *
  * A stale entry fails too: one whose def is gone, or now has a caller.
  */
class SurfaceLintSpec extends AnyFunSuite {

  private val packages = Seq("functions", "operators", "streaming", "sinks", "sources")

  private val kept: Map[String, String] = Map(
    "StatefulOps.rollingFeatures" -> "(a) T1 twin of rolling_features",
    "StatefulOps.asofMatches" -> "(a) J3 twin of the as-of join",
    "StatefulOps.resampleCells" -> "(a) T2 twin of the resample-ffill query",
    "StatefulOps.scd2Versions" -> "(a) twin of scd2_user_state",
    "StatefulOps.funnelConversions" -> "(a) twin of the funnel query",
    "StatefulOps.funnelStepsStream" -> "(a) twin of the N-step funnel",
    "StatefulOps.transitionPairs" -> "(a) twin of event_transitions",
    "StreamOps.sessionPathsStream" -> "(a) twin of the session-paths top-50",
    "StreamOps.streamStreamIntervalJoin" -> "(a) J2 twin of the interval join",
    "StreamingCuration.lmSurprisalStream" -> "(a) twin of the LM surprisal score",
    "TextAnalysis.trigramModel" -> "(a) builds the model lmSurprisalStream's replay scores with",
    "Dedup.compactLshIndex" -> "(b) LSH index compaction",
    "Graph.maintainCopurchaseWeights" -> "(b) co-purchase count-table writer",
    "Graph.readCopurchaseWeights" -> "(b) co-purchase count-table reader",
    "Graph.seedTriangleCounts" -> "(b) triangle-count state seed",
    "Graph.rebuildTriangleCounts" -> "(b) triangle-count state rebuild",
    "Graph.compactTriangleLog" -> "(b) triangle edge-log compaction",
    "Graph.compactCommunityLabelsLog" -> "(b) community-labels log compaction",
    "Graph.maintainTriangleCountsStream" -> "(b) triangle-count foreachBatch entry",
    "Graph.readCommunityLabels" -> "(b) community-labels state reader",
    "Graph.maintainCommunityLabelsStream" -> "(b) community-labels foreachBatch entry",
    "Incremental.maintainPricingSummary" -> "(b) versioned summary writer",
    "Incremental.maintainDatasheet" -> "(b) versioned datasheet writer",
    "Incremental.maintainCountsPartitioned" -> "(b) partitioned count-table writer",
    "Similarity.compactInt8Index" -> "(b) int8 index compaction",
    "Similarity.compactIvfPqIndex" -> "(b) IVF-PQ index compaction",
    "Similarity.rebuildIvfPqIndex" -> "(b) IVF-PQ staged-swap rebuild",
    "Similarity.rebuildInt8Index" -> "(b) int8 staged-swap rebuild",
    "TextAnalysis.committedBatchIds" -> "(b) inverted-index commit-marker reader",
    "Lake.deleteByIds" -> "(b) copy-on-write delete",
    "Lake.compactPartitions" -> "(b) lake partition compaction",
    "Sinks.idempotentForeachBatch" -> "(b) exactly-once foreachBatch entry",
    "StreamOps.int8SearchStream" -> "(b) int8 index search stream",
    "StreamOps.annDeleteStream" -> "(b) ANN index delete stream",
    "StreamOps.dedupIngestStream" -> "(b) dedup cluster-label ingest stream",
    "StreamOps.int8AppendStream" -> "(b) int8 index append stream",
    "StreamOps.indexAppendStream" -> "(b) inverted-index append stream",
    "Graph.triangleCounts" -> "(c) reference for triangleCountsAdj",
    "Graph.kCore" -> "(c) reference for kCoreHalf",
    "Sinks.kafkaSink" -> "(d) Kafka sink",
    "Sources.kafkaLines" -> "(d) Kafka source")

  private val deferred: Map[String, String] = Map(
    "Dedup.lshParams" -> "StreamingExtrasSpec 1",
    "Skew.saltedCountSum" -> "InvariantSpec 1",
    "Skew.saltedJoin" -> "InvariantSpec 1",
    "Lake.writeZOrdered" -> "LayoutSpec 1",
    "Sinks.fanoutSink" -> "StreamingExtrasSpec 1",
    "StreamOps.streamingDedup" -> "StreamingExtrasSpec 1",
    "StreamOps.streamingNearDupPairs" -> "StreamingExtrasSpec 1")

  /** `src` with comments and string-literal text blanked (offsets and
    * newlines kept). Code inside an interpolation (`$name`, `${...}`)
    * stays, since it can call a def.
    */
  private def strip(src: String): String = {
    val out = src.toCharArray
    val n = src.length
    def blank(a: Int, b: Int): Unit =
      (a until math.min(b, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def isIdStart(c: Char) = c.isLetter || c == '_'
    def isId(c: Char) = c.isLetterOrDigit || c == '_'
    // `i0` is just past the opening quote(s); returns the index past the close
    def string(i0: Int, triple: Boolean): Int = {
      val close = if (triple) "\"\"\"" else "\""
      var start = i0
      var i = i0
      while (i < n) {
        if (src.startsWith(close, i) && !(triple && src.startsWith("\"\"\"\"", i))) {
          blank(start, i)
          return i + close.length
        }
        if (!triple && src(i) == '\\') i += 2
        else if (src(i) == '$' && i + 1 < n && src(i + 1) == '{') {
          blank(start, i)
          var j = i + 2
          var depth = 1
          while (j < n && depth > 0) {
            src(j) match {
              case '{' => depth += 1; j += 1
              case '}' => depth -= 1; j += 1
              case '"' =>
                val t = src.startsWith("\"\"\"", j)
                j = string(j + (if (t) 3 else 1), t)
              case _ => j += 1
            }
          }
          start = j
          i = j
        } else if (src(i) == '$' && i + 1 < n && isIdStart(src(i + 1))) {
          blank(start, i + 1)
          var j = i + 1
          while (j < n && isId(src(j))) j += 1
          start = j
          i = j
        } else i += 1
      }
      i
    }
    val charLit = """'(\\.|[^'\\\n])'""".r
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = { val e = src.indexOf('\n', i); if (e < 0) n else e }
        blank(i, j)
        i = j
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        var done = false
        while (j < n && !done) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2; done = depth == 0 }
          else j += 1
        }
        blank(i, j)
        i = j
      } else if (src(i) == '"') {
        val t = src.startsWith("\"\"\"", i)
        i = string(i + (if (t) 3 else 1), t)
      } else if (src(i) == '\'') {
        charLit.findPrefixOf(src.substring(i, math.min(n, i + 8))) match {
          case Some(m) => blank(i + 1, i + m.length - 1); i += m.length
          case None => i += 1
        }
      } else i += 1
    }
    new String(out)
  }

  /** A public def directly in an object body: its `Object.name` key,
    * its name, and where its definition starts.
    */
  private case class Def(key: String, name: String, start: Int)

  private def objectDefs(code: String): Seq[Def] = {
    val tok = """\b(object|class|trait|def)\b|[{}()\[\]]""".r
    val stack = scala.collection.mutable.Stack.empty[Option[String]] // Some(obj) for an object body
    var pending: Option[Option[String]] = None
    var paren = 0
    val out = Seq.newBuilder[Def]
    tok.findAllMatchIn(code).foreach { m =>
      m.matched match {
        case "object" if paren == 0 =>
          pending = Some("""object\s+([A-Za-z_][A-Za-z0-9_]*)""".r
            .findPrefixMatchOf(code.substring(m.start)).map(_.group(1)))
        case "class" | "trait" if paren == 0 => pending = Some(None)
        case "def" =>
          if (paren == 0) stack.headOption.flatten.foreach { obj =>
            val lineStart = code.lastIndexOf('\n', m.start) + 1
            val mods = code.substring(lineStart, m.start)
            """def\s+([A-Za-z_][A-Za-z0-9_]*)""".r.findPrefixMatchOf(code.substring(m.start))
              .filterNot(_ => """\b(private|protected)\b""".r.findFirstIn(mods).isDefined)
              .foreach(d => out += Def(s"$obj.${d.group(1)}", d.group(1), m.start))
          }
          pending = None
        case "(" | "[" => paren += 1
        case ")" | "]" => paren -= 1
        case "{" =>
          stack.push(if (paren == 0) pending.flatten else None)
          pending = None
        case "}" => if (stack.nonEmpty) stack.pop()
        case _ =>
      }
    }
    out.result()
  }

  /** End of the definition starting at `start`: the next member at the
    * same depth (a keyword opening a line) or the enclosing close brace.
    */
  private def defEnd(code: String, start: Int): Int = {
    val member = """(def|val|var|lazy|private|protected|object|class|trait|case|implicit|override|final|type)\b|@""".r
    var depth = 0
    var paren = 0
    var i = start + 3
    while (i < code.length) {
      code(i) match {
        case '(' | '[' => paren += 1
        case ')' | ']' => paren -= 1
        case '{' => depth += 1
        case '}' =>
          if (depth == 0) return i
          depth -= 1
        case c if depth == 0 && paren == 0 && (c.isLetter || c == '@') &&
            code.substring(code.lastIndexOf('\n', i - 1) + 1, i).trim.isEmpty &&
            member.findPrefixOf(code.substring(i, math.min(code.length, i + 12))).isDefined =>
          return i
        case _ =>
      }
      i += 1
    }
    code.length
  }

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  /** `Object.def` keys of the defs of `engine` files with no caller in `code`.
    *
    * A use of `name` counts as a call of `Obj.name` only when it is
    * written `Obj.name`, is unqualified inside `Obj`'s own file, or is
    * unqualified in a file that imports `Obj._` or `Obj.name`. So a
    * namesake (another object's def, a local val, a method on a value)
    * is no caller.
    */
  private def uncalledIn(code: Map[Path, String], engine: Set[Path]): Set[String] = {
    val defs = for {
      p <- engine.toSeq
      d <- objectDefs(code(p))
    } yield (p, d, defEnd(code(p), d.start))
    // every identifier occurrence, by name: (file, offset)
    val uses = code.toSeq.flatMap { case (p, c) =>
      """[A-Za-z_][A-Za-z0-9_]*""".r.findAllMatchIn(c).map(m => (m.matched, (p, m.start)))
    }.groupMap(_._1)(_._2)
    val before = """(?:\b([A-Za-z_][A-Za-z0-9_]*)\s*)?(\.)?\s*$""".r
    def qualifier(c: String, at: Int): Option[Option[String]] = // None: unqualified
      before.findFirstMatchIn(c.substring(math.max(0, at - 80), at))
        .flatMap(m => Option(m.group(2)).map(_ => Option(m.group(1))))
    def imports(c: String, obj: String, name: String): Boolean =
      ("""\bimport\s+[\w.]*\b""" + obj + """\.(_|""" + name + """\b|\{[^}]*\b""" + name +
        """\b[^}]*\})""").r.findFirstIn(c).isDefined
    val defToken = """def\s+$""".r
    defs.groupBy(_._2.key).collect { case (key, spans) if {
      val (home, d0, _) = spans.head
      val obj = key.stripSuffix("." + d0.name)
      uses.getOrElse(d0.name, Nil).forall { case (p, at) =>
        val c = code(p)
        val call = qualifier(c, at) match {
          case Some(q) => q.contains(obj)
          case None => p == home || imports(c, obj, d0.name)
        }
        !call || spans.exists { case (dp, d, end) => dp == p && at >= d.start && at < end } ||
          defToken.findFirstIn(c.substring(math.max(0, at - 12), at)).isDefined
      }
    } => key }.toSet
  }

  /** `Object.def` keys of the engine-package defs with no caller. */
  private lazy val uncalled: Set[String] = {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("streambench/src"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: ${r.toAbsolutePath}"))
    val code = roots.flatMap(scalaFiles).map(p => p -> strip(Files.readString(p))).toMap
    val engine = code.keys.filter { p =>
      val rel = Paths.get("src/main/scala/graft").relativize(p)
      !rel.startsWith("..") && rel.getNameCount == 2 && packages.contains(rel.getName(0).toString)
    }
    uncalledIn(code, engine.toSet)
  }

  test("every engine def without a caller is kept by a rule or deferred with its tests") {
    val unlisted = uncalled.diff(kept.keySet ++ deferred.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      "public defs with no caller in src/main or streambench/src; call, delete or list them:\n" +
        unlisted.mkString("\n"))
  }

  test("no stale entry: every listed def exists and still has no caller") {
    val stale = (kept.keySet ++ deferred.keySet).diff(uncalled).toSeq.sorted
    assert(stale.isEmpty, "entries whose def is gone or now has a caller:\n" + stale.mkString("\n"))
    assert(kept.keySet.intersect(deferred.keySet).isEmpty)
  }

  test("every kept reason cites rule (a)-(d); every deferral names its spec") {
    val bad = kept.filterNot(_._2.matches("""\([a-d]\) \S.*""")).keys ++
      deferred.filterNot(_._2.matches("""[A-Za-z]+Spec \d+(, [A-Za-z]+Spec \d+)*""")).keys
    assert(bad.isEmpty, bad.toSeq.sorted.mkString("\n"))
  }

  test("lint self-check: the stripper and the def scanner") {
    val src =
      """object O {
        |  /** [[used]] in a doc is no caller */
        |  def a(x: Int): Int = { val s = "b()"; x } // c()
        |  private def hidden = 1
        |  def b = s"${c(1)} and $d"
        |  class K { def notObjectLevel = 1 }
        |}""".stripMargin
    val code = strip(src)
    assert(!code.contains("used") && !code.contains("b()") && !code.contains("c()"))
    assert(code.contains("c(1)") && code.contains("d\""), code)
    assert(objectDefs(code).map(_.key) === Seq("O.a", "O.b"))
    val a = objectDefs(code).head
    val body = code.substring(a.start, defEnd(code, a.start))
    assert(body.contains("x }") && !body.contains("hidden"), body)
  }

  test("lint self-check: a namesake is no caller") {
    // P.run and Q.run share a name; only Q.run is called. Uses that
    // reach no object (a local val, a method on a value, a file with no
    // import) must not keep P.run alive.
    val p = Paths.get("p/P.scala")
    val q = Paths.get("q/Q.scala")
    def lint(files: (String, String)*) =
      uncalledIn(files.map { case (k, v) => Paths.get(k) -> strip(v) }.toMap, Set(p, q))
    val base = Seq(
      "p/P.scala" -> "object P {\n  def run(x: Int): Int = x\n}",
      "q/Q.scala" -> "object Q {\n  def run(x: Int): Int = x\n  def solo(): Int = run(0)\n}",
      "u/U.scala" -> "object U {\n  val run = 1\n  def go(t: T) = t.run + run\n}")
    assert(lint(base: _*) === Set("P.run", "Q.solo"))
    assert(lint(base :+ ("u/I.scala" -> "import q.Q._\nobject I { def go() = solo() }"): _*) ===
      Set("P.run"))
    assert(lint(base :+ ("u/V.scala" -> "object V { def go() = P\n    .run(1) + solo() }"): _*) ===
      Set("Q.solo"))
  }
}
