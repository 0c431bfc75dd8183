package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf the engine reads is a knob someone must
  * understand, test and keep working. The census pins the set, so a new
  * knob is a deliberate edit here, not a side effect of a change. */
class KnobCensusSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def mainSources: Seq[Path] = {
    assert(Files.isDirectory(root), s"main sources not found at $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("the engine reads exactly one spark.graft.* conf: commit.maxRetries") {
    val key = """spark\.graft\.[A-Za-z0-9_.]+""".r
    val keys = mainSources.flatMap(f => key.findAllIn(Files.readString(f))).toSet
    assert(keys == Set("spark.graft.commit.maxRetries"))
  }

  test("the engine sets no spark.sql.codegen conf") {
    // the codegen cache size and its class names are process-wide: fewer
    // generated classes must come from the plans, not from a setting
    val hits = mainSources.filter(f => Files.readString(f).contains("spark.sql.codegen"))
    assert(hits.isEmpty, hits.mkString(", "))
  }

  test("only the measurement mains and the session builder read the environment") {
    val read = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
    val allowed = Set("Bench.scala", "ScaleBench.scala", "Verify.scala",
      "PlanDump.scala", "GraftSession.scala")
    val readers = mainSources
      .filter(f => read.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(readers.subsetOf(allowed), s"unexpected environment reads in ${readers -- allowed}")
  }

  test("a MERGE step's metrics map is built in one place") {
    // the insert-only and rewrite paths stage one map: the plan's
    // decisions plus one block of counts
    val text = mainSources.map(Files.readString).mkString("\n")
    for (k <- Seq("numTargetRowsInserted", "numTargetFilesSkippedByStats", "sourceKeysUnique"))
      assert(text.split(java.util.regex.Pattern.quote(s"\"$k\" ->"), -1).length == 2, k)
  }

  test("table data files are read only through the log's file index") {
    // deletion vectors apply inside the scan and their sidecars are read
    // without a Spark job, so the table layer holds no spark.read; the
    // readWhere* helpers are gone — a filter prunes
    val tables = root.resolve("graft").resolve("tables")
    val reads = mainSources.filter(_.startsWith(tables))
      .map(f => "spark\\.read".r.findAllIn(Files.readString(f)).size).sum
    assert(reads == 0)
    val main = root.getParent
    val helpers = Files.walk(main).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => Files.readString(f).contains("readWhere")).toSeq
    assert(helpers.isEmpty, helpers.mkString(", "))
  }

  test("the graft data source hands Spark the table's file relation, not rows") {
    // no RDD boundary and no hand translation of pushed filters: Spark
    // plans the relation as a parquet scan and pushes filters itself
    val text = Files.readString(root.resolve("graft").resolve("sources").resolve("GraftSource.scala"))
    assert(!text.contains(".rdd"))
    assert(!text.contains("PrunedFilteredScan"))
    assert("""\bFilter\b|sources\._""".r.findFirstIn(text).isEmpty,
      "GraftSource matches no org.apache.spark.sql.sources.Filter")
  }

  test("log entries are built only by the transaction publish, append, create and clone") {
    // every writer stages into VersionedTable.transaction, the one place
    // that pins, publishes, cleans up and retries — an append is a
    // one-step WRITE, a create or a clone a one-step first version
    val sites = mainSources.flatMap(f => Files.readAllLines(f).asScala.map(_.trim))
      .filter(l => l.contains("LogEntry(") && !l.startsWith("case class") &&
        !l.startsWith("//") && !l.startsWith("*"))
    assert(sites.size == 1 && sites.head.contains("pinned + 1"), sites.mkString("\n"))
  }

  test("a commit file is published from one call site: the transaction's") {
    val calls = mainSources.flatMap(f => Files.readAllLines(f).asScala.map(_.trim))
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
      .filter(l => """\bcommit\(""".r.findFirstIn(l).isDefined && !l.contains("def commit("))
    assert(calls.size == 1 && calls.head.contains("try commit(e)"), calls.mkString("\n"))
  }

  test("the log is parsed in one place: one call site each for parseEntry and parseCheckpoint") {
    // every reader and writer goes through the one replay and its commit
    // iterator, so there is one rule for a torn file
    val code = mainSources.flatMap(f => Files.readAllLines(f).asScala.map(_.trim))
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
    for (fn <- Seq("parseEntry(", "parseCheckpoint(")) {
      val calls = code.filter(l => l.contains(fn) && !l.contains(s"def $fn"))
      assert(calls.map(_.split(java.util.regex.Pattern.quote(fn), -1).length - 1).sum == 1,
        s"$fn call sites:\n${calls.mkString("\n")}")
    }
  }

  test("a lost CAS is caught in one place under graft/tables: the transaction's loop") {
    // blind-append slides and body re-runs share one handler and one budget
    val tables = root.resolve("graft").resolve("tables")
    val catches = mainSources.filter(_.startsWith(tables))
      .flatMap(f => Files.readAllLines(f).asScala.map(_.trim))
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))
      .filter(l => """:\s*ConcurrentCommitException\b""".r.findFirstIn(l).isDefined)
    assert(catches.size == 1, catches.mkString("\n"))
  }
}
