package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the table layer to one commit path, one row-level write step and
  * one data-file writer.
  *
  *  - In the table sources, a log publish (`log.commit(`), a `CommitInfo(`
  *    or a `RemoveFile(` may only be built inside `OptimisticCommit.commit`
  *    or one of the version-0 creates and ADOPT, which have no prior
  *    version to conflict with.
  *  - In `GraftTable.scala`, a `writeDvFile(` call and the
  *    `"deletionVectors.maxTombstones"` literal may only appear inside
  *    `rewriteRows`, the one place that chooses between tombstoning and
  *    rewriting; the literal may also appear in `setProperty`, which
  *    validates it. No table source writes a `_dv/` parquet sidecar
  *    (`kind = "dv"` or `dir = "_dv"`): every deletion vector is a Delta
  *    descriptor.
  *  - In the table and source layers, no file is written through a
  *    `DataFrame.write` chain or staged through a `staged(` helper:
  *    [[DataFileWriter]] writes every table file at its final name, and
  *    it broadcasts nothing (its tasks rebuild the write conf from
  *    `FileOps.baseConf`).
  *  - In the table, source and streaming layers, a deletion vector is
  *    decoded (`dvPositions(`, `bitsAbs(`, `DeltaDeletionVectors.positions(`)
  *    only inside `FileOps.dvBitsFor`, the one DV apply every scan and
  *    `rewriteRows`' merge of prior tombstones share, and the table
  *    layer's only `left_anti` joins are VACUUM's orphan
  *    listing and MERGE's unmatched source rows: no scan applies
  *    tombstones through a join.
  *  - In `GraftTable.scala`, no row-level op counts matches per file with a
  *    `groupBy` on `__fname`: the touched files and their affected-row
  *    counts come only from [[TouchedFiles]], one exchange-free job that
  *    also guards against duplicate MERGE matches.
  *  - SQL UPDATE, MERGE INTO and DELETE have one row-level implementation,
  *    the table layer's: no source names Spark's DSv2 group-rewrite API
  *    (`SupportsRowLevelOperations`, `RowLevelOperation`,
  *    `SupportsRuntimeV2Filtering`) and `GraftTable.commitReplace` is gone.
  *  - One module, [[CommitChanges]], classifies what a commit changed for
  *    batch `changes()` and the streaming source: no other table, source
  *    or streaming file names the maintenance op-name set or reads a
  *    change file's partition-value shape, and neither `GraftTable.scala`
  *    nor a source or streaming file reads an action's `dataChange` flag.
  *  - Every session of the program and its tests is built by
  *    `graft.Harness`, and the only mains are Bench, Verify, Diag and
  *    RaceWriter.
  *
  * Comments are skipped; the enclosing method is the nearest member-level
  * `def` above. */
class CommitPathGuardSpec extends AnyFunSuite {

  private val allowed = Map(
    "GraftTable.scala" -> Set("create", "createStaged", "cloneTo", "convert", "adoptDelta"),
    "Conflicts.scala" -> Set("commit"))

  private val construction = """(?i:log)\.commit\(|\bCommitInfo\(|\bRemoveFile\(""".r
  private val dvDecision = Seq(
    """(?<!def )\bwriteDvFile\(""".r -> Set("rewriteRows"),
    "\"deletionVectors\\.maxTombstones\"".r -> Set("rewriteRows", "setProperty"))
  private val dvDecode =
    """(?<!def )\b(?:dvPositions|bitsAbs)\(|\bDeltaDeletionVectors\.positions\(""".r
  private val sidecarWrite = """\bkind\s*=\s*"dv"|\bdir\s*=\s*"_dv"""".r
  private val dvApply = """\bFileOps\.dvBitsFor\b""".r
  private val antiJoin = "\"left_anti\"".r
  private val groupRewrite =
    """SupportsRowLevelOperations|RowLevelOperation|SupportsRuntimeV2Filtering""".r
  private val commitReplace = """\bcommitReplace\b""".r
  private val perFileGroupBy = """groupBy\(\s*(?:col\(\s*)?"__fname"""".r
  private val maintenanceSet =
    """\b(?:MaintenanceOps|nonDataOps)\b|Set\(\s*"OPTIMIZE"\s*,\s*"VACUUM"""".r
  private val cdcShape = """\bcdcPartitionValues\b""".r
  private val dataChangeRead =
    """\.dataChange\b|\.contains\(\s*(?:[\w.]+\.)?DataChangeFalseTag\b""".r
  private val sessionBuilder = """SparkSession\s*\.\s*builder\b""".r
  private val mainMethod = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
  private val memberDef = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r
  /** A `DataFrame.write` chain (`.write` then `.` or the end of the line,
    * not Spark's `connector.write` package) or a `staged(` helper. */
  private val broadcastCall = """\bbroadcast\s*\(""".r
  private val writerDetour = """(?<!connector)\.write(?=\s*(?:\.|$))|\bstaged\s*[\[(]""".r

  /** `src` with every comment blanked out, line breaks kept. */
  private def withoutComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (depth > 0 && i < src.length)
      } else if (at("\"\"\"")) {
        // a run of more than three quotes closes on its last three
        var end = src.indexOf("\"\"\"", i + 3)
        while (end + 3 < src.length && src(end + 3) == '"') end += 1
        out ++= src.substring(i, end + 3); i = end + 3
      } else if (at("'\"'")) {
        out ++= "'\"'"; i += 3
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (src(i) != '"') {
          if (src(i) == '\\') { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        out += '"'; i += 1
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Each `pattern` hit in the `layer` source `file` whose enclosing
    * member-level method is not in `methods`, as "file:line in method: hit". */
  private def strays(file: String, pattern: scala.util.matching.Regex,
      methods: Set[String], layer: String = "table"): Seq[String] = {
    val path = Paths.get("src/main/scala/graft", layer, file)
    assert(Files.isRegularFile(path), s"run from the repository root: $path")
    var enclosing = "<none>"
    withoutComments(Files.readString(path)).split("\n", -1).toSeq
      .zipWithIndex.flatMap { case (line, i) =>
        memberDef.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        pattern.findAllIn(line).toSeq
          .filterNot(_ => methods(enclosing))
          .map(hit => s"$file:${i + 1} in $enclosing: $hit")
      }
  }

  for ((file, methods) <- allowed) test(s"$file builds commits only in ${methods.toSeq.sorted.mkString(", ")}") {
    val found = strays(file, construction, methods)
    assert(found.isEmpty,
      s"commit actions built outside the one commit path:\n${found.mkString("\n")}")
  }

  test("only rewriteRows writes deletion vectors and reads the tombstone cap") {
    val found = dvDecision.flatMap { case (pattern, methods) =>
      strays("GraftTable.scala", pattern, methods) }
    assert(found.isEmpty,
      s"merge-on-read decided outside rewriteRows:\n${found.mkString("\n")}")
    // each pattern still matches the code it guards
    dvDecision.foreach { case (pattern, _) =>
      assert(strays("GraftTable.scala", pattern, Set.empty).nonEmpty, s"$pattern matches nothing")
    }
  }

  test("no table source writes a _dv/ sidecar") {
    val found = layerFiles("table").flatMap(strays(_, sidecarWrite, Set.empty))
    assert(found.isEmpty, s"a deletion-vector sidecar writer:\n${found.mkString("\n")}")
    // the pattern still recognizes each spelling it bars
    Seq("""DataFileWriter.write(df, path, kind = "dv", dir = "_dv")""",
        """      path, kind="dv")""", """      dir = "_dv").map(_.path)""")
      .foreach(line => assert(sidecarWrite.findFirstIn(line).nonEmpty, line))
    assert(sidecarWrite.findFirstIn("""kind = "dvx", dir = "_dvs"""").isEmpty)
  }

  test("table and source files are written only through DataFileWriter") {
    val found = for {
      layer <- Seq("table", "sources")
      file <- Files.list(Paths.get("src/main/scala/graft", layer)).iterator().asScala.toSeq
        .map(_.getFileName.toString).filter(_.endsWith(".scala")).sorted
      hit <- strays(file, writerDetour, Set.empty, layer)
    } yield s"$layer/$hit"
    assert(found.isEmpty,
      s"files written around DataFileWriter:\n${found.mkString("\n")}")
    // the pattern still recognizes each detour it bars
    Seq("df.write.parquet(dir)", "      .write", "FileOps.staged(root, tag)").foreach(line =>
      assert(writerDetour.findFirstIn(line).nonEmpty, line))
  }

  test("DataFileWriter broadcasts no conf") {
    val found = strays("DataFileWriter.scala", broadcastCall, Set.empty)
    assert(found.isEmpty, s"a broadcast per write:\n${found.mkString("\n")}")
    // the pattern still recognizes each spelling it bars
    Seq("spark.sparkContext.broadcast(new SerializableConfiguration(conf)))",
        "      sc.broadcast (conf)")
      .foreach(line => assert(broadcastCall.findFirstIn(line).nonEmpty, line))
  }

  private def layerFiles(layer: String): Seq[String] =
    Files.list(Paths.get("src/main/scala/graft", layer)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".scala")).sorted

  test("only FileOps.dvBitsFor decodes a deletion vector; no scan anti-joins tombstones") {
    val decodes = for {
      layer <- Seq("table", "sources", "streaming")
      file <- layerFiles(layer)
      hit <- strays(file, dvDecode, Set("dvBitsFor"), layer)
    } yield s"$layer/$hit"
    assert(decodes.isEmpty,
      s"deletion vectors decoded outside FileOps.dvBitsFor:\n${decodes.mkString("\n")}")
    val antis = layerFiles("table").flatMap(file =>
      strays(file, antiJoin, Set("vacuumOrphans", "insertRows")))
    assert(antis.isEmpty, s"anti-join in the table layer:\n${antis.mkString("\n")}")
    // rewriteRows merges the tombstones a file already carries through it
    assert(strays("GraftTable.scala", dvApply, Set.empty).exists(_.contains(" in rewriteRows: ")),
      "rewriteRows does not read prior tombstones through FileOps.dvBitsFor")
    // each pattern still matches the code it guards
    assert(strays("FileOps.scala", dvDecode, Set.empty).size === 2)
    assert(strays("GraftTable.scala", antiJoin, Set.empty).size === 2)
  }

  test("SQL row-level DML has one implementation: no DSv2 group rewrite, no commitReplace") {
    val found = layerFiles("sources").flatMap(strays(_, groupRewrite, Set.empty, "sources")) ++
      strays("GraftTable.scala", commitReplace, Set.empty)
    assert(found.isEmpty, s"a second row-level implementation:\n${found.mkString("\n")}")
    // the patterns still recognize what they bar
    Seq("    with SupportsRowLevelOperations with SupportsMetadataColumns {",
        "  extends org.apache.spark.sql.connector.write.RowLevelOperation {",
        "    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {")
      .foreach(line => assert(groupRewrite.findFirstIn(line).nonEmpty, line))
    assert(commitReplace.findFirstIn("table.commitReplace(snap, files, adds, op)").nonEmpty)
    assert(commitReplace.findFirstIn("t.commitReplaceTable(s, Nil, s.schema, Nil, Map.empty)").isEmpty)
  }

  test("per-file match counts in GraftTable go only through TouchedFiles") {
    val found = strays("GraftTable.scala", perFileGroupBy, Set.empty)
    assert(found.isEmpty, s"per-file counts outside TouchedFiles:\n${found.mkString("\n")}")
    // the pattern still recognizes each spelling it bars
    Seq("""hit.groupBy("__fname").count()""",
        """perPos.groupBy(col("__fname"))""",
        """.groupBy(col("__fname"), col("__pos"))""")
      .foreach(line => assert(perFileGroupBy.findFirstIn(line).nonEmpty, line))
  }

  test("commit changes are classified only in CommitChanges") {
    val layers = Seq("table", "sources", "streaming")
    val outside = for {
      layer <- layers
      file <- layerFiles(layer) if file != "CommitChanges.scala"
      pattern <- Seq(maintenanceSet, cdcShape)
      hit <- strays(file, pattern, Set.empty, layer)
    } yield s"$layer/$hit"
    assert(outside.isEmpty, s"commit classification outside CommitChanges:\n${outside.mkString("\n")}")
    val flagReads = (("table", "GraftTable.scala") +: Seq("sources", "streaming")
        .flatMap(l => layerFiles(l).map(l -> _)))
      .flatMap { case (layer, file) => strays(file, dataChangeRead, Set.empty, layer) }
    assert(flagReads.isEmpty, s"dataChange read outside CommitChanges:\n${flagReads.mkString("\n")}")
    // each pattern still matches the code it guards
    Seq(maintenanceSet, cdcShape, dataChangeRead).foreach(pattern =>
      assert(strays("CommitChanges.scala", pattern, Set.empty).nonEmpty, s"$pattern matches nothing"))
    Seq("""  private val nonDataOps = Set("OPTIMIZE", "VACUUM", "SET TBLPROPERTIES",""",
        """if (op.exists(CommitChanges.MaintenanceOps.contains)) Nil""")
      .foreach(line => assert(maintenanceSet.findFirstIn(line).nonEmpty, line))
    Seq("""case r: RemoveFile if r.dataChange => r""",
        """!a.tags.contains(graft.table.Actions.DataChangeFalseTag)""")
      .foreach(line => assert(dataChangeRead.findFirstIn(line).nonEmpty, line))
    // the optimizer's tag write and named argument are not reads
    Seq("""a.tags + (Actions.DataChangeFalseTag -> "true"))))""", "      dataChange = false)(")
      .foreach(line => assert(dataChangeRead.findFirstIn(line).isEmpty, line))
  }

  test("sessions come only from Harness; the only mains are Bench, Verify, Diag and RaceWriter") {
    val sources = for {
      root <- Seq("src/main/scala", "src/test/scala")
      p <- Files.walk(Paths.get(root)).iterator().asScala.toSeq.sortBy(_.toString)
      if p.toString.endsWith(".scala")
    } yield p
    /** One entry per hit: the file it is in. */
    def hitFiles(pattern: scala.util.matching.Regex): Seq[String] = sources.flatMap(p =>
      pattern.findAllIn(withoutComments(Files.readString(p))).map(_ => p.toString))
    assert(hitFiles(sessionBuilder) === Seq("src/main/scala/graft/Harness.scala"),
      "a SparkSession built outside graft.Harness")
    assert(hitFiles(mainMethod).map(Paths.get(_).getFileName.toString).sorted ===
      Seq("Bench.scala", "Diag.scala", "RaceWriter.scala", "Verify.scala"))
    // the patterns still recognize each spelling they bar
    Seq("    val s = SparkSession" + ".builder()", "SparkSession\n" + "  .builder()")
      .foreach(src => assert(sessionBuilder.findFirstIn(src).nonEmpty, src))
    Seq("  def " + "main(args: Array[String]): Unit = {", "object Probe extends " + "App {")
      .foreach(line => assert(mainMethod.findFirstIn(line).nonEmpty, line))
  }
}
