package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf the engine reads is a knob someone must
  * understand, test and keep working. The census pins the set, so a new
  * knob is a deliberate edit here, not a side effect of a change. */
class KnobCensusSpec extends AnyFunSuite {
  test("the engine reads exactly one spark.graft.* conf: commit.maxRetries") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"main sources not found at $root")
    val key = """spark\.graft\.[A-Za-z0-9_.]+""".r
    val keys = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => key.findAllIn(Files.readString(f))).toSet
    assert(keys == Set("spark.graft.commit.maxRetries"))
  }
}
