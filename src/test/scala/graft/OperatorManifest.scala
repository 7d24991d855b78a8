package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Auto-generated operator-coverage manifest (r14 verdict #7): the surface
  * is 200+ queries × 2 engines × ~150 stages/ops, so a hand-maintained
  * coverage table WILL drift. This object extracts every registered
  * operator straight from the dispatch sources (the stage sections from
  * the shared [[StageSpec.table]]), auto-discovers what pins
  * it (driver queries whose pipeline text uses the op, and spec files that
  * mention it), renders `docs/OPERATORS.md`, and backs the
  * [[OperatorManifestSpec]] guard that fails on any registered-but-unpinned
  * op or a stale committed manifest.
  *
  * Run `Test/runMain graft.GenOperators` to regenerate the manifest.
  */
object OperatorManifest {
  /** Repo root the source/manifest paths resolve against (r15 advice: bare
    * cwd-relative reads threw an opaque NoSuchFileException when the test
    * JVM ran from a different working directory — IDE runners, forked JVMs
    * with their own baseDirectory). Resolution order: `graft.repo.root`
    * system property, then the cwd and its ancestors probed for
    * `src/main/scala/graft` — with a clear error naming the fix. */
  private[graft] lazy val repoRoot: java.nio.file.Path = {
    val marker = Paths.get("src", "main", "scala", "graft")
    sys.props.get("graft.repo.root").map { r =>
      val p = Paths.get(r)
      require(Files.isDirectory(p.resolve(marker)),
        s"-Dgraft.repo.root=$r does not contain $marker")
      p
    }.getOrElse {
      var dir = Paths.get("").toAbsolutePath
      var found: Option[java.nio.file.Path] = None
      while (found.isEmpty && dir != null) {
        if (Files.isDirectory(dir.resolve(marker))) found = Some(dir)
        else dir = dir.getParent
      }
      require(found.isDefined,
        s"cannot locate the repo root: no $marker under " +
          s"${Paths.get("").toAbsolutePath} or its ancestors — run tests " +
          "from the repo (or pass -Dgraft.repo.root=<repo>)")
      found.get
    }
  }

  private def read(p: String): String =
    new String(Files.readAllBytes(repoRoot.resolve(p)),
      StandardCharsets.UTF_8)

  /** All `$op` names reachable from `case` patterns in `text`, including
    * multi-line alternations (`case "$a" | "$b" |\n "$c" =>`). */
  private def caseOps(text: String): Seq[String] = {
    val caseRe =
      """(?s)case\s+("\$[A-Za-z0-9]+"(\s*\|\s*"\$[A-Za-z0-9]+")*)""".r
    val nameRe = """\$[A-Za-z0-9]+""".r
    caseRe.findAllMatchIn(text)
      .flatMap(m => nameRe.findAllIn(m.group(1)))
      .toSeq.distinct.sorted
  }

  private def region(text: String, from: String, to: Option[String]): String = {
    val s = text.indexOf(from)
    require(s >= 0, s"region start '$from' not found")
    val t = text.substring(s)
    to.map { e =>
      val i = t.indexOf(e)
      require(i >= 0, s"region end '$e' not found after '$from'")
      t.substring(0, i)
    }.getOrElse(t)
  }

  case class Section(title: String, source: String, ops: Seq[String])

  def sections(): Seq[Section] = {
    val pipe = read("src/main/scala/graft/Pipeline.scala")
    // both engines dispatch every stage in the one StageSpec table
    val stages = StageSpec.table.keys.toSeq.sorted
    // the Stages object holds group accumulators + $setWindowFields
    // operators; sub-pipeline stage handlers ($match/$sort/... inside
    // $lookup/$facet interpreters) re-appear there — already listed in the
    // stage section, so subtract them
    val accWindow =
      caseOps(region(pipe, "object Pipeline {", None))
        .filterNot(stages.contains)
    Seq(
      Section("Typed pipeline stages",
        "graft/StageSpec.scala `table`", stages),
      Section("Dynamic pipeline stages",
        "graft/StageSpec.scala `table`", stages),
      Section("Typed group accumulators & window operators",
        "graft/Pipeline.scala `Stages`", accWindow),
      Section("Dynamic group accumulators",
        "graft/functions/DynGroupAgg.scala",
        caseOps(read("src/main/scala/graft/functions/DynGroupAgg.scala"))),
      Section("Typed expression operators",
        "graft/mongo/MongoExpr.scala",
        caseOps(read("src/main/scala/graft/mongo/MongoExpr.scala"))),
      Section("Dynamic expression operators",
        "graft/dynamic/DynExpr.scala",
        caseOps(read("src/main/scala/graft/dynamic/DynExpr.scala"))),
      Section("Typed match operators",
        "graft/mongo/MongoMatch.scala",
        caseOps(read("src/main/scala/graft/mongo/MongoMatch.scala"))),
      Section("Dynamic match operators",
        "graft/dynamic/DynMatch.scala",
        caseOps(read("src/main/scala/graft/dynamic/DynMatch.scala"))))
  }

  /** SparkEntry source segment per registered query/oracle name: from each
    * `"name" ->` occurrence to the next registered-name occurrence. An op
    * is pinned by a query when its quoted literal appears in one of the
    * query's segments (its pipeline JSON, Column code, or oracle SQL). */
  private lazy val querySegments: Map[String, Seq[String]] = {
    val src = read("src/main/scala/graft/SparkEntry.scala")
    val names = SparkEntry.queries.keys.toSeq
    val occ = (for {
      n <- names
      anchor = "\"" + n + "\" ->"
      i <- Iterator.iterate(src.indexOf(anchor))(p =>
        src.indexOf(anchor, p + 1)).takeWhile(_ >= 0)
    } yield (i, n)).sortBy(_._1)
    val bounds = occ.map(_._1) :+ src.length
    occ.zipWithIndex.map { case ((i, n), k) =>
      n -> src.substring(i, bounds(k + 1))
    }.groupBy(_._1).map { case (n, segs) => n -> segs.map(_._2) }
  }

  private lazy val specFiles: Seq[(String, String)] = {
    val dir = repoRoot.resolve("src/test/scala/graft")
    Files.list(dir).iterator.asScala
      .filter(_.toString.endsWith("Spec.scala"))
      .map(p => p.getFileName.toString -> read(p.toString))
      .toSeq.sortBy(_._1)
  }

  /** (query pins, spec pins) for one operator — quoted-literal match, so
    * `"$set"` never matches `"$setKey"`. */
  def pinsFor(op: String): (Seq[String], Seq[String]) = {
    val lit = "\"" + op + "\""
    val qs = querySegments.collect {
      case (n, segs) if segs.exists(_.contains(lit)) => n
    }.toSeq.sorted
    val sp = specFiles.collect { case (f, t) if t.contains(lit) => f }
    (qs, sp)
  }

  def unpinned(): Seq[(String, String)] =
    for {
      s <- sections()
      op <- s.ops
      (qs, sp) = pinsFor(op)
      if qs.isEmpty && sp.isEmpty
    } yield (s.title, op)

  def manifest(): String = {
    val sb = new StringBuilder
    sb ++= "# Operator coverage manifest\n\n"
    sb ++= "GENERATED — do not edit. Regenerate with " +
      "`sbt \"Test/runMain graft.GenOperators\"`.\n\n"
    sb ++= "Every operator registered in an engine dispatch, " +
      "cross-referenced to the driver queries (oracle-checked every round) " +
      "and ScalaTest specs that pin it. " +
      "`OperatorManifestSpec` fails the build when an operator has no pin " +
      "or this file is stale.\n"
    for (s <- sections()) {
      sb ++= s"\n## ${s.title}\n\nSource: `${s.source}` — ${s.ops.size} operators\n\n"
      sb ++= "| operator | pinned by queries | pinned by specs |\n|---|---|---|\n"
      for (op <- s.ops) {
        val (qs, sp) = pinsFor(op)
        def trunc(xs: Seq[String], n: Int) =
          if (xs.size <= n) xs.mkString(", ")
          else xs.take(n).mkString(", ") + s" (+${xs.size - n} more)"
        sb ++= s"| `$op` | ${trunc(qs, 4)} | ${trunc(sp, 3)} |\n"
      }
    }
    sb.result()
  }
}

/** Writes docs/OPERATORS.md. */
object GenOperators {
  def main(args: Array[String]): Unit = {
    val out = OperatorManifest.repoRoot.resolve("docs/OPERATORS.md")
    Files.write(out, OperatorManifest.manifest()
      .getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")
  }
}
