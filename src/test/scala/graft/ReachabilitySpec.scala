package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps library surface that only specs call from growing back: every
  * top-level object, and every def that is neither `private` nor
  * `override`, must be named on some non-comment line of `src/main`
  * other than its own declaration. A name match is a coarse proxy for
  * a call: same-named members hide each other, so the sweep misses
  * some dead code.
  *
  * The allow-list names the public members kept on purpose although
  * nothing in `src/main` calls them, each with its reason. An object is
  * exempt when an allow-listed member lives in it, or when its file
  * declares a `main`.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "main" -> ("entry points (Bench, Verify, cli.Main, tools.Profile, " +
      "tools.MakeLadderSf1) are started by name, not called"),
    "Similarity.cosineDeclarative" ->
      "reference twin of the cosine expression, compared in specs",
    "Similarity.nearDupPairs" ->
      "all-pairs reference the LSH near-dup tier is compared against",
    "TextShingles.shinglesDeclarative" ->
      "reference twin of the shingles expression, compared in specs",
    "TextDedup.minhashBase" -> "reference twin of the MinHash expression",
    "TextDedup.minhashSignature" -> "reference twin of the MinHash expression",
    "TextDedup.simhash32Declarative" ->
      "reference twin of the simhash32 expression",
    "TextDedup.jaccardPairs" ->
      "capped all-pairs Jaccard the PPJoin prefix tier is compared against",
    "KnnGraph.knnEdgesExact" -> "exact kNN the LSH kNN graph is compared against",
    "Retained.trackedCount" -> "spec hook observing the cache registry",
    "ProgressListener.tasksDone" -> "spec hook observing the progress listener",
    "ProgressListener.tasksTotal" -> "spec hook observing the progress listener",
    "CacheBridge.isCacheEmpty" -> "spec hook observing Spark's cache manager",
    "BucketedStore.hasShuffle" -> "spec hook observing bucketed join plans",
    "KdbxSource.decryptXml" -> "spec hook observing the KDBX decryption",
    "SparkEntry.queryFamilies" -> "spec hook over the entry registry",
    "SparkEntry.oracleFamilies" -> "spec hook over the entry registry",
    "ImportConfig.mergeInDb" ->
      "ignored; the import benchmark still sets it, and its next change deletes it",
    "StreamingImport.mergeEachBatch" -> "the foreachBatch upsert q214 runs")

  private val root = Paths.get("src/main/scala")

  /** Source with comments blanked (newlines kept, so line numbers hold);
    * string literals stay, since a name inside one is not a comment.
    */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = s.length
    def keepNewlines(from: Int, to: Int): Unit =
      (from until to).foreach(k => if (s.charAt(k) == '\n') out += '\n')
    while (i < n) {
      if (s.startsWith("\"\"\"", i)) {
        var j = s.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && s.charAt(j) == '"') j += 1
        out ++= s.substring(i, j); i = j
      } else if (s.charAt(i) == '"') {
        var j = i + 1
        while (j < n && s.charAt(j) != '"' && s.charAt(j) != '\n')
          j += (if (s.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= s.substring(i, j); i = j
      } else if (s.charAt(i) == '\'' && i + 3 < n &&
          (s.charAt(i + 2) == '\'' || s.charAt(i + 1) == '\\')) {
        // a char literal: 'c' or '\c'
        val j = if (s.charAt(i + 1) == '\\') i + 4 else i + 3
        out ++= s.substring(i, j); i = j
      } else if (s.startsWith("//", i)) {
        val j = s.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        keepNewlines(i, j); i = j
      } else { out += s.charAt(i); i += 1 }
    }
    out.toString
  }

  private case class Line(file: Path, no: Int, text: String)

  private val Decl =
    ("""^(\s*)((?:(?:final|implicit|lazy|sealed|case|abstract|override|""" +
      """(?:private|protected)(?:\[\w+\])?)\s+)*)(def|object)\s+(\w+)""").r
  private val Ident = """[A-Za-z0-9_]+""".r
  private val TopLevel = """^(?:(?:final|sealed|abstract|case)\s+)*(?:object|class|trait)\s+(\w+).*""".r

  test("every public def and top-level object is named somewhere in src/main") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    val lines = files.flatMap { f =>
      stripComments(new String(Files.readAllBytes(f), "UTF-8")).split("\n", -1)
        .zipWithIndex.map { case (t, i) => Line(f, i + 1, t) }
    }
    // identifier -> number of lines naming it
    val linesNaming: Map[String, Int] = lines
      .flatMap(l => Ident.findAllIn(l.text).toSet)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    // the declaration line names it once; any other line is a use
    def named(name: String): Boolean = linesNaming.getOrElse(name, 0) > 1
    // every allow-list entry must still name something in src/main
    val stale = allowed.keys.filterNot(k => linesNaming.contains(k.split('.').last))
    assert(stale.isEmpty, s"allow-list entries naming nothing: $stale")

    val owners = allowed.keys.filter(_.contains('.')).map(_.split('.').head).toSet
    val mains = lines.filter(_.text.matches("""\s*def main\(.*""")).map(_.file).toSet
    var owner = ""
    var lastFile: Path = null
    val dead = lines.flatMap { l =>
      if (l.file != lastFile) { owner = ""; lastFile = l.file }
      l.text match {
        case TopLevel(o) => owner = o
        case _ =>
      }
      Decl.findFirstMatchIn(l.text).flatMap { m =>
        val (indent, mods, kind, name) = (m.group(1), m.group(2), m.group(3), m.group(4))
        val exempt = mods.contains("private") || mods.contains("override") ||
          (kind == "object" && (indent.nonEmpty || owners(name) || mains(l.file))) ||
          (kind == "def" && (allowed.contains(name) || allowed.contains(s"$owner.$name")))
        if (exempt || named(name)) None
        else Some(s"${root.relativize(l.file)}:${l.no} $kind " +
          (if (kind == "object") name else s"$owner.$name"))
      }
    }
    if (dead.nonEmpty)
      fail("named nowhere in src/main but their declaration " +
        "(delete, or allow-list with a reason):\n" + dead.mkString("\n"))
  }
}
