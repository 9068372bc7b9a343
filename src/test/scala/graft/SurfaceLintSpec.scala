package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every object-level member of the engine packages (`functions`,
  * `operators`, `streaming`, `sinks`, `sources`) that code outside its
  * object can reach (a public or `private[pkg]` `def`, `val` or
  * `case class`) has a caller in `src/main` or `streambench/src`, or an
  * entry here that says why not.
  *
  * A caller is a use in the comment- and string-stripped sources outside
  * the member's own definition that resolves to its object: `Obj.name`,
  * `name` inside `Obj`'s own file, or `name` in a file importing `Obj._`
  * or `Obj.name` (a scaladoc `[[name]]` is not a caller; an overload's
  * body or another object's use is; a namesake is not). A member with no
  * caller must be in [[kept]], with a reason citing one of the rules:
  *  - (a) ConvergenceSpec replays it against an oracle-gated query;
  *  - (b) it is a writer, reader, compaction, rebuild or foreachBatch
  *    stream entry of a maintained-state protocol (the crash-point
  *    enumeration's subjects);
  *  - (c) a spec uses it as the reference for a shipped function;
  *  - (d) it is the course's Kafka surface (needs a broker).
  *
  * The callers that justify a def justify its default-valued parameters
  * too: its callers in `src/main` or `streambench/src` when it has any,
  * else (a [[kept]] def) its callers in the specs. A default that no
  * justifying caller passes, by name or by position, is a constant: it
  * must be written as one, or be in [[keptParams]] with a reason citing:
  *  - (e) it is a deployment setting: an address, path, offset or
  *    credential;
  *  - (s) it is an operator safety or recovery guard that the named
  *    spec turns on;
  *  - (t) the named spec passes another value, to reach on small input a
  *    branch the shipped value takes at scale, or to substitute a fake.
  *
  * A stale entry fails too: one whose member or parameter is gone, or
  * now has a caller or a passer.
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

  private val keptParams: Map[String, String] = Map(
    "Sources.kafkaLines.startingOffsets" -> "(e) Kafka starting offsets",
    "Graph.hits.verifyEdgeSets" ->
      "(s) edgesByDst edge-set equality guard; GraphOpsSpec turns it on",
    "TextAnalysis.compactInvertedIndex.reclaimOrphans" ->
      "(s) drops crashed ad-hoc orphan batches; FunctionsSpec turns it on",
    "Graph.sgnsNoiseTable.chunkDiv" ->
      "(t) GraphOpsSpec and CurationPropertySpec cross chunk boundaries on a small vocab",
    "Graph.triangleCountDelta.adjMaxBytes" ->
      "(t) GraphOpsSpec shrinks the broadcast size gate to reach its wedge-join fallback",
    "Curation.refreshClusters.mergeEdgesOut" ->
      "(t) IncrementalClusterSpec passes a counter: the merge graph stays delta-sized",
    "Curation.refreshClustersRetract.mergeEdgesOut" ->
      "(t) IncrementalClusterSpec passes a counter: the re-solve stays cluster-sized")

  /** `src` with comments and string-literal text blanked (offsets and
    * newlines kept). Code inside an interpolation (`$name`, `${...}`)
    * stays, since it can call a def.
    */
  private def strip(src: String): String = blankOut(src, strings = true)

  /** `src` with comments blanked and string literals kept (offsets and
    * newlines kept, as [[strip]]).
    */
  private def stripComments(src: String): String = blankOut(src, strings = false)

  private def blankOut(src: String, strings: Boolean): String = {
    val out = src.toCharArray
    val n = src.length
    def blankAll(a: Int, b: Int): Unit =
      (a until math.min(b, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    // literal text: blanked only when `strings`
    def blank(a: Int, b: Int): Unit = if (strings) blankAll(a, b)
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
        blankAll(i, j)
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
        blankAll(i, j)
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

  /** A member directly in an object body that code outside the object
    * can reach (public or qualified-private: a `def`, `val` or
    * `case class`): its `Object.name` key, its name, and where its
    * definition starts (the `def`, `val` or `class` keyword).
    */
  private case class Def(key: String, name: String, start: Int)

  private def objectDefs(code: String): Seq[Def] = {
    val tok = """\b(object|class|trait|def|val)\b|[{}()\[\]]""".r
    // `private`/`protected`, except a qualified `private[pkg]`
    val hidden = """\b(private|protected)\b(?!\[(?!this\])\w+\])""".r
    val stack = scala.collection.mutable.Stack.empty[Option[String]] // Some(obj) for an object body
    var pending: Option[Option[String]] = None
    var paren = 0
    val out = Seq.newBuilder[Def]
    def member(at: Int, kw: String, caseOnly: Boolean): Unit =
      if (paren == 0) stack.headOption.flatten.foreach { obj =>
        val mods = code.substring(code.lastIndexOf('\n', at) + 1, at)
        (kw + """\s+([A-Za-z_][A-Za-z0-9_]*)""").r.findPrefixMatchOf(code.substring(at))
          .filterNot(_ => hidden.findFirstIn(mods).isDefined)
          .filter(_ => !caseOnly || """\bcase\s+$""".r.findFirstIn(mods).isDefined)
          .foreach(d => out += Def(s"$obj.${d.group(1)}", d.group(1), at))
      }
    tok.findAllMatchIn(code).foreach { m =>
      m.matched match {
        case "object" if paren == 0 =>
          pending = Some("""object\s+([A-Za-z_][A-Za-z0-9_]*)""".r
            .findPrefixMatchOf(code.substring(m.start)).map(_.group(1)))
        case "class" if paren == 0 =>
          member(m.start, "class", caseOnly = true)
          pending = Some(None)
        case "trait" if paren == 0 => pending = Some(None)
        case kw @ ("def" | "val") =>
          member(m.start, kw, caseOnly = false)
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

  /** Every member of the `engine` files, by `Object.name` key: its
    * definitions (overloads), each with its end, and the sites in `code`
    * that call it, as (file, offset of the name).
    *
    * A use of `name` counts as a call of `Obj.name` only when it is
    * written `Obj.name`, is unqualified inside `Obj`'s own file, or is
    * unqualified in a file that imports `Obj._` or `Obj.name`. So a
    * namesake (another object's def, a local val, a method on a value)
    * is no caller. Nor is a use inside the definition itself.
    */
  private def callersIn(code: Map[Path, String], engine: Set[Path])
      : Map[String, (Seq[(Path, Def, Int)], Seq[(Path, Int)])] = {
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
    val defToken = """(def|val|class)\s+$""".r
    defs.groupBy(_._2.key).map { case (key, spans) =>
      val (home, d0, _) = spans.head
      val obj = key.stripSuffix("." + d0.name)
      key -> (spans, uses.getOrElse(d0.name, Nil).filter { case (p, at) =>
        val c = code(p)
        val call = qualifier(c, at) match {
          case Some(q) => q.contains(obj)
          case None => p == home || imports(c, obj, d0.name)
        }
        call && !spans.exists { case (dp, d, end) => dp == p && at >= d.start && at < end } &&
          defToken.findFirstIn(c.substring(math.max(0, at - 12), at)).isEmpty
      })
    }
  }

  /** `Object.name` keys of the members of `engine` files with no caller in `code`. */
  private def uncalledIn(code: Map[Path, String], engine: Set[Path]): Set[String] =
    callersIn(code, engine).collect { case (key, (_, Seq())) => key }.toSet

  /** Index just past the bracket that closes the one at `i`. */
  private def closing(code: String, i: Int): Int = {
    var depth = 0
    var j = i
    while (j < code.length) {
      code(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return j + 1
        case _ =>
      }
      j += 1
    }
    code.length
  }

  /** `s` split at its top-level commas, blank pieces dropped. */
  private def topLevelSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { k =>
      s(k) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => out += s.substring(from, k); from = k + 1
        case _ =>
      }
    }
    out += s.substring(from)
    out.result().filter(_.trim.nonEmpty)
  }

  /** The argument (or parameter) lists that follow offset `from`: an
    * optional type-argument list, then each `( ... )` (and, at a call, each
    * `{ ... }` block), split at top-level commas. A declaration's lists may
    * sit on separate lines; a call's may not.
    */
  private def argLists(code: String, from: Int, declaration: Boolean): Seq[Seq[String]] = {
    var i = from
    def skip(): Unit =
      while (i < code.length && (code(i) == ' ' || code(i) == '\t' ||
          declaration && code(i).isWhitespace)) i += 1
    skip()
    if (i < code.length && code(i) == '[') { i = closing(code, i); skip() }
    val out = Seq.newBuilder[Seq[String]]
    while (i < code.length && (code(i) == '(' || !declaration && code(i) == '{')) {
      val j = closing(code, i)
      val inner = code.substring(i + 1, j - 1)
      out += (if (code(i) == '{') Seq(inner) else topLevelSplit(inner))
      i = j
      skip()
    }
    out.result()
  }

  /** A parameter of a def: its name and whether it has a default. */
  private case class Param(name: String, default: Boolean)

  private def paramLists(code: String, d: Def): Seq[Seq[Param]] =
    argLists(code, d.start + """def\s+""".r.findPrefixOf(code.substring(d.start)).get.length +
      d.name.length, declaration = true).map(_.map { text =>
      val p = text.trim.stripPrefix("implicit").trim
      // a default follows the first top-level `=` that is not part of `=>`
      var depth = 0
      val eq = p.indices.find { k =>
        p(k) match {
          case '(' | '[' | '{' => depth += 1; false
          case ')' | ']' | '}' => depth -= 1; false
          case '=' => depth == 0 && !p.startsWith("=>", k)
          case _ => false
        }
      }
      Param("""[A-Za-z_][A-Za-z0-9_]*""".r.findPrefixOf(p).getOrElse(""), eq.isDefined)
    })

  /** Every default-valued parameter of a def of `engine` files, by
    * `Object.def.param` key, and whether a caller that justifies the def
    * passes it. A def's justifying callers are its callers in files where
    * `shipped` holds, when it has any; otherwise (a def kept by a rule)
    * its callers in the other files, the specs. A call passes a parameter
    * when it gives it by name, or by position in the same list. With
    * overloads, a call counts for each alternative whose lists fit it.
    */
  private def defaultsIn(code: Map[Path, String], engine: Set[Path], shipped: Path => Boolean)
      : Map[String, Boolean] = {
    val named = """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])""".r
    callersIn(code, engine).toSeq.flatMap { case (_, (spans, calls)) =>
      val name = spans.head._2.name
      val alts = spans.collect { case (p, d, _) if code(p).startsWith("def", d.start) =>
        (d, paramLists(code(p), d))
      }
      val justifying = {
        val (main, specs) = calls.partition(c => shipped(c._1))
        (if (main.nonEmpty) main else specs).map { case (p, at) =>
          argLists(code(p), at + name.length, declaration = false)
            .map(_.map(a => named.findPrefixMatchOf(a).map(_.group(1))))
        }
      }
      def fits(lists: Seq[Seq[Param]], args: Seq[Seq[Option[String]]]): Boolean =
        lists.zip(args).forall { case (ps, as) =>
          as.count(_.isEmpty) <= ps.size && as.flatten.forall(n => ps.exists(_.name == n))
        }
      for {
        (d, lists) <- alts
        (ps, k) <- lists.zipWithIndex
        (p, i) <- ps.zipWithIndex if p.default
      } yield s"${d.key}.${p.name}" -> justifying.exists { args =>
        (alts.size == 1 || fits(lists, args)) && args.size > k &&
          (args(k).count(_.isEmpty) > i || args(k).contains(Some(p.name)))
      }
    }.toMap
  }

  /** Plain parquet reads (`<session>.read.parquet(`) in `code`, as
    * "file:line", outside the body of `IndexLayout.readTable`: each one
    * runs a one-task schema-inference job that the opener does not.
    */
  private def plainParquetReadsIn(code: Map[Path, String]): Seq[String] = {
    val read = """\bread\s*\.\s*parquet\s*\(""".r
    code.toSeq.flatMap { case (p, c) =>
      val opener = objectDefs(c).filter(_.key == "IndexLayout.readTable")
        .map(d => d.start until defEnd(c, d.start))
      read.findAllMatchIn(c).filterNot(m => opener.exists(_.contains(m.start)))
        .map(m => s"$p:${c.substring(0, m.start).count(_ == '\n') + 1}")
    }.sorted
  }

  /** Uses of the dynamic-overwrite key (`partitionOverwriteMode`) in the
    * raw sources `src`, as "file:line", outside the body of
    * `IndexLayout.overwriteBatchPartitions`: each is a session-wide
    * `spark.conf` flip (a concurrent static overwrite on the session runs
    * dynamic) or a second hand-written copy of the rewrite. Comments do
    * not count; string literals do, since the key is one.
    */
  private def overwriteModesIn(src: Map[Path, String]): Seq[String] =
    src.toSeq.flatMap { case (p, raw) =>
      val c = strip(raw)
      val writer = objectDefs(c).filter(_.key == "IndexLayout.overwriteBatchPartitions")
        .map(d => d.start until defEnd(c, d.start))
      "partitionOverwriteMode".r.findAllMatchIn(stripComments(raw))
        .filterNot(m => writer.exists(_.contains(m.start)))
        .map(m => s"$p:${raw.substring(0, m.start).count(_ == '\n') + 1}")
    }.sorted

  /** The defs that build the commit-marker paths of the maintained-state
    * protocols, by file and name: every protocol step reaches a marker
    * through them.
    */
  private val markerOwners = Seq("Incremental.scala" -> "appliedMarker", "Graph.scala" -> "deletesDone")

  /** Commit-marker paths (`applied/batch=`, `deletes_done/`) in the raw
    * sources `src`, as "file:line", outside the bodies of the
    * [[markerOwners]]: each is a second place a marker path is built, so
    * a change to the protocol's layout could miss it. Comments do not
    * count; string literals do, since the paths are built in them.
    */
  private def markerPathsIn(src: Map[Path, String]): Seq[String] =
    src.toSeq.flatMap { case (p, raw) =>
      val c = stripComments(raw)
      val owners = markerOwners.filter { case (file, _) => p.endsWith(file) }.flatMap { case (_, name) =>
        s"""\\bdef\\s+$name\\b""".r.findAllMatchIn(c).map(m => m.start until defEnd(c, m.start))
      }
      """applied/batch=|deletes_done/""".r.findAllMatchIn(c)
        .filterNot(m => owners.exists(_.contains(m.start)))
        .map(m => s"$p:${raw.substring(0, m.start).count(_ == '\n') + 1}")
    }.sorted

  /** Hand-released checkpoints (`Checkpoints.unpersist(`) in the code of
    * `src`, as "file:line", outside `Checkpoints.scala`: a round loop
    * releases its superseded rounds through `Checkpoints.iterate`, so a
    * second copy of that discipline cannot drift from it.
    */
  private def handReleasesIn(src: Map[Path, String]): Seq[String] =
    src.toSeq.filterNot(_._1.endsWith("Checkpoints.scala")).flatMap { case (p, raw) =>
      """\bCheckpoints\s*\.\s*unpersist\s*\(""".r.findAllMatchIn(strip(raw))
        .map(m => s"$p:${raw.substring(0, m.start).count(_ == '\n') + 1}")
    }.sorted

  /** Temporary directories made in the code of `src`, as "file:line",
    * outside `SparkSpec.scala`: its `tempDir` puts every spec's directory
    * under one per-run root that is deleted when the run ends.
    */
  private def tempDirsIn(src: Map[Path, String]): Seq[String] =
    src.toSeq.filterNot(_._1.endsWith("SparkSpec.scala")).flatMap { case (p, raw) =>
      """\bcreateTemp(Directory|File)\b""".r.findAllMatchIn(strip(raw))
        .map(m => s"$p:${raw.substring(0, m.start).count(_ == '\n') + 1}")
    }.sorted

  /** Scaladoc blocks stacked directly on another comment block in the raw
    * sources `src`, as "file:line" of the second block: the first
    * describes a def it does not sit on, which then has no doc.
    */
  private def stackedDocsIn(src: Map[Path, String]): Seq[String] =
    src.toSeq.flatMap { case (p, raw) =>
      """\*/\s*(/\*\*)""".r.findAllMatchIn(raw)
        .map(m => s"$p:${raw.substring(0, m.start(1)).count(_ == '\n') + 1}")
    }.sorted

  private lazy val mainSources: Map[Path, String] =
    scalaFiles(Paths.get("src/main/scala")).map(p => p -> Files.readString(p)).toMap

  /** Where every table read must go through the opener. */
  private val openerScope = Seq("functions", "sinks").map(d => Paths.get(s"src/main/scala/graft/$d"))

  private lazy val code: Map[Path, String] = {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("streambench/src"), Paths.get("src/test/scala"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: ${r.toAbsolutePath}"))
    roots.flatMap(scalaFiles).map(p => p -> strip(Files.readString(p))).toMap
  }

  private def isSpec(p: Path): Boolean = p.startsWith(Paths.get("src/test"))

  private lazy val engine: Set[Path] = code.keys.filter { p =>
    val rel = Paths.get("src/main/scala/graft").relativize(p)
    !rel.startsWith("..") && rel.getNameCount == 2 && packages.contains(rel.getName(0).toString)
  }.toSet

  /** `Object.name` keys of the engine-package members with no caller. */
  private lazy val uncalled: Set[String] = uncalledIn(code.filterNot(c => isSpec(c._1)), engine)

  /** Default-valued parameters of the engine-package defs, and whether
    * a justifying caller passes each.
    */
  private lazy val defaults: Map[String, Boolean] = defaultsIn(code, engine, p => !isSpec(p))

  test("every engine member without a caller is kept by a rule") {
    val unlisted = uncalled.diff(kept.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      "public members with no caller in src/main or streambench/src; call, delete or list them:\n" +
        unlisted.mkString("\n"))
  }

  test("every default-valued parameter is passed by a caller that justifies its def, or kept by a rule") {
    val unpassed = defaults.collect { case (k, false) => k }.toSet
    info(s"${defaults.size} default-valued parameters on " +
      s"${defaults.keys.map(_.split('.').take(2).mkString(".")).toSet.size} engine defs; " +
      s"${unpassed.size} passed by no justifying caller")
    val unlisted = unpassed.diff(keptParams.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      "default-valued parameters no justifying caller passes; make each a constant or list it:\n" +
        unlisted.mkString("\n"))
  }

  test("no stale entry: every listed def exists and still has no caller") {
    val stale = kept.keySet.diff(uncalled).toSeq.sorted
    assert(stale.isEmpty, "entries whose def is gone or now has a caller:\n" + stale.mkString("\n"))
  }

  test("no stale parameter entry: every listed parameter exists and still has no passer") {
    val stale = keptParams.keySet.diff(defaults.collect { case (k, false) => k }.toSet)
    assert(stale.isEmpty, "entries whose parameter is gone or now has a passer:\n" +
      stale.toSeq.sorted.mkString("\n"))
  }

  test("every kept reason cites rule (a)-(d)") {
    val bad = kept.filterNot(_._2.matches("""\([a-d]\) \S.*""")).keys
    assert(bad.isEmpty, bad.toSeq.sorted.mkString("\n"))
  }

  test("every kept parameter cites (e), (s) or (t), and an (s) or (t) names its spec") {
    val bad = keptParams.filterNot { case (_, r) =>
      r.matches("""\(e\) \S.*""") || r.matches("""\([st]\) .*\b[A-Z][A-Za-z]*Spec\b.*""")
    }.keys
    assert(bad.isEmpty, bad.toSeq.sorted.mkString("\n"))
  }

  test("every parquet table read in functions and sinks goes through IndexLayout.readTable") {
    val scoped = code.filter { case (p, _) => openerScope.exists(p.startsWith) }
    assert(scoped.keySet.exists(_.endsWith("IndexLayout.scala")), "the scan found no opener")
    val plain = plainParquetReadsIn(scoped)
    assert(plain.isEmpty,
      "plain parquet reads, each a schema-inference job; open the table with " +
        "IndexLayout.readTable:\n" + plain.mkString("\n"))
  }

  test("lint self-check: the plain-read scan skips the opener, comments and strings") {
    val files = Map(
      "f/IndexLayout.scala" ->
        """object IndexLayout {
          |  /** like `spark.read.parquet(dir)` */
          |  def readTable(spark: S, dir: String): D =
          |    if (ok) spark.read.schema(s).parquet(dir) else spark.read.parquet(dir)
          |  def other(spark: S): D = spark.read.parquet("x")
          |}""".stripMargin,
      "f/U.scala" ->
        """object U {
          |  val s = "spark.read.parquet(p)" // spark.read.parquet(q)
          |  def go(spark: S): D = spark.read
          |    .parquet(p)
          |}""".stripMargin)
    assert(plainParquetReadsIn(files.map { case (p, c) => Paths.get(p) -> strip(c) }) ===
      Seq("f/IndexLayout.scala:5", "f/U.scala:3"))
  }

  test("the dynamic partition overwrite is set only by IndexLayout.overwriteBatchPartitions") {
    assert(mainSources.exists { case (p, c) =>
      p.endsWith("IndexLayout.scala") && stripComments(c).contains("\"partitionOverwriteMode\"")
    }, "the scan found no writer")
    val uses = overwriteModesIn(mainSources)
    assert(uses.isEmpty,
      "partitionOverwriteMode outside IndexLayout.overwriteBatchPartitions; write through " +
        "it (or IndexLayout.rewritePartitions), never the session conf:\n" + uses.mkString("\n"))
  }

  test("lint self-check: the overwrite-mode scan keeps strings, skips comments and the writer") {
    val files = Map(
      "f/IndexLayout.scala" ->
        """object IndexLayout {
          |  /** sets "partitionOverwriteMode" on this write alone */
          |  def overwriteBatchPartitions(df: D, path: String, cols: Seq[String]): Unit =
          |    df.write.option("partitionOverwriteMode", "dynamic").parquet(path)
          |  def other(df: D): Unit = df.write.option("partitionOverwriteMode", "dynamic")
          |}""".stripMargin,
      "f/U.scala" ->
        """object U {
          |  // spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          |  def go(spark: S): Unit =
          |    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          |}""".stripMargin)
    assert(overwriteModesIn(files.map { case (p, c) => Paths.get(p) -> c }) ===
      Seq("f/IndexLayout.scala:5", "f/U.scala:4"))
  }

  test("commit-marker paths are built only by Incremental.appliedMarker and Graph.deletesDone") {
    assert(markerOwners.forall { case (file, name) =>
      mainSources.exists { case (p, c) => p.endsWith(file) && c.contains(s"def $name(") }
    }, "the scan found no marker owner")
    val built = markerPathsIn(mainSources)
    assert(built.isEmpty,
      "applied/batch= or deletes_done/ paths built outside their owner defs; reach the " +
        "marker through Incremental.appliedMarker or Graph.deletesDone:\n" + built.mkString("\n"))
  }

  test("lint self-check: the marker scan keeps strings, skips comments and the owners") {
    val files = Map(
      "f/Incremental.scala" ->
        """object Incremental {
          |  /** `<dir>/applied/batch=<id>` */
          |  private[f] def appliedMarker(dir: String, id: String): P =
          |    new P(s"$dir/applied/batch=$id")
          |  def check(fs: F, dir: String): Boolean = fs.exists(new P(s"$dir/applied/batch=1"))
          |}""".stripMargin,
      "f/Graph.scala" ->
        """object Graph {
          |  private def deletesDone(dir: String, id: String): P =
          |    new P(s"$dir/deletes_done/batch=$id")
          |  // fs.mkdirs(new P(s"$dir/deletes_done/batch=1"))
          |  def glob(dir: String): P = new P(dir + "/deletes_done/" + "*")
          |}""".stripMargin)
    assert(markerPathsIn(files.map { case (p, c) => Paths.get(p) -> c }) ===
      Seq("f/Graph.scala:5", "f/Incremental.scala:5"))
  }

  test("src/main releases checkpoints by hand only in Checkpoints.scala") {
    assert(mainSources.exists { case (p, c) =>
      p.endsWith("Checkpoints.scala") && c.contains("def iterate[")
    }, "the scan found no round loop owner")
    val released = handReleasesIn(mainSources)
    assert(released.isEmpty,
      "Checkpoints.unpersist outside Checkpoints.scala; run the loop through " +
        "Checkpoints.iterate, which releases superseded rounds:\n" + released.mkString("\n"))
  }

  test("lint self-check: the hand-release scan skips comments, strings and the owner") {
    val files = Map(
      "f/Checkpoints.scala" -> "object Checkpoints {\n  def f(d: D): Unit = Checkpoints.unpersist(d)\n}",
      "f/G.scala" ->
        """object G {
          |  // Checkpoints.unpersist(old)
          |  def go(d: D): String = "Checkpoints.unpersist(d)"
          |  def run(d: D): Unit = Checkpoints
          |    .unpersist(d)
          |}""".stripMargin)
    assert(handReleasesIn(files.map { case (p, c) => Paths.get(p) -> c }) === Seq("f/G.scala:4"))
  }

  test("src/test makes temporary directories only through SparkSpec.tempDir") {
    val testSources = scalaFiles(Paths.get("src/test/scala")).map(p => p -> Files.readString(p)).toMap
    assert(testSources.exists { case (p, c) => p.endsWith("SparkSpec.scala") && c.contains("def tempDir(") },
      "the scan found no SparkSpec.tempDir")
    val made = tempDirsIn(testSources)
    assert(made.isEmpty,
      "temporary directories made outside SparkSpec; use tempDir, whose root the run " +
        "deletes:\n" + made.mkString("\n"))
  }

  test("lint self-check: the temp-dir scan skips comments, strings and SparkSpec") {
    val make = "Files.create" + "TempDirectory"
    val files = Map(
      "t/SparkSpec.scala" -> s"object SparkSpec {\n  def tempDir(p: String): P = $make(root, p)\n}",
      "t/A.scala" ->
        (s"""class A {
          |  // $make("x")
          |  val s = "$make(x)"
          |  val d = $make("a")
          |  val f = java.io.File.create""".stripMargin + "TempFile(\"b\", \"c\")\n}"))
    assert(tempDirsIn(files.map { case (p, c) => Paths.get(p) -> c }) === Seq("t/A.scala:4", "t/A.scala:5"))
  }

  test("every scaladoc block sits on its own def, not on another comment block") {
    assert(mainSources.values.exists(_.contains("*/")), "the scan found no comment")
    val stacked = stackedDocsIn(mainSources)
    assert(stacked.isEmpty,
      "scaladoc blocks stacked on another comment block; move the upper one onto the def " +
        "it describes:\n" + stacked.mkString("\n"))
  }

  test("lint self-check: the stacked-doc scan") {
    val src =
      """object O {
        |  /** doc of b */
        |  /** doc of a */
        |  def a = 1
        |  /* a note */
        |
        |  /** doc of c */
        |  def c = 1
        |  /** doc of d */
        |  // a line comment
        |  def d = 1
        |}""".stripMargin
    assert(stackedDocsIn(Map(Paths.get("f/O.scala") -> src)) === Seq("f/O.scala:3", "f/O.scala:7"))
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

  test("lint self-check: vals, case classes and private[pkg] members are scanned") {
    val src =
      """object O {
        |  val v = 1
        |  lazy val w = v
        |  case class C(x: Int)
        |  class Plain { val inside = 1 }
        |  private[p] def pp = 1
        |  private[this] def own = 1
        |  private val hidden = 2
        |  def f(c: C): Int = { val local = c.x; local }
        |}""".stripMargin
    assert(objectDefs(strip(src)).map(_.key) === Seq("O.v", "O.w", "O.C", "O.pp", "O.f"))
    val o = Paths.get("o/O.scala")
    assert(uncalledIn(Map(o -> strip(src)), Set(o)) === Set("O.w", "O.pp", "O.f"))
  }

  test("lint self-check: a default no justifying caller passes is reported") {
    val p = Paths.get("p/P.scala")
    val main = Paths.get("m/M.scala")
    val spec = Paths.get("s/S.scala")
    val files = Map(
      p -> """object P {
             |  def f(a: Int, b: Int = 1, c: Int = 2)(d: Int = 3): Int = a + b + c + d
             |  def g(x: Int = 1, y: Int => Int = identity): Int = y(x)
             |  def kept(z: Int = 1, q: Int = 2): Int = z + q
             |  def over(s: String, t: String, u: String): Int = s.length
             |  def over(n: Int, m: Int = 0): Int = n + m
             |}""".stripMargin,
      main -> """object M {
                |  def go(): Int = P.f(1, 2)(d = 4) + P.f(0)() + P.g() + P.over("a", "b", "c") + P.over(2)
                |}""".stripMargin,
      spec -> """object S {
                |  def t(): Int = P.f(0, c = 5)() + P.g(y = _ + 1) + P.kept(q = 3)
                |}""".stripMargin)
    val defaults = defaultsIn(files.map { case (k, v) => k -> strip(v) }, Set(p), _ != spec)
    assert(defaults.keySet === Set("P.f.b", "P.f.c", "P.f.d", "P.g.x", "P.g.y", "P.kept.z",
      "P.kept.q", "P.over.m"))
    // a spec does not justify a shipped def's parameter (P.f.c, P.g.y); it
    // justifies a def only specs call (P.kept.q)
    assert(defaults.collect { case (k, false) => k }.toSet ===
      Set("P.f.c", "P.g.x", "P.g.y", "P.kept.z", "P.over.m"))
  }
}
