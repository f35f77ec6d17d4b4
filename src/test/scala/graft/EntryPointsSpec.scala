package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth of entry points and switches: the objects in
  * `src/main` with a `def main`, and the environment variables it reads,
  * are exactly the documented sets. */
class EntryPointsSpec extends AnyFunSuite {

  /** Every main source file, comments removed. */
  private val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
    finally walk.close()
  }

  test("the objects with a main are the documented entry points") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val mains = sources.flatMap { case (_, text) =>
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainDecl.findAllMatchIn(text).map(m => objects.filter(_._1 < m.start).last._2)
    }
    assert(mains.sorted === Seq("Bench", "BenchScale", "Exporter", "Ingest",
      "PlanDump", "ScaleData", "VecIngest", "Verify").sorted)
  }

  test("the environment variables read are the documented ones") {
    val keyed = """(?:sys\.env\s*(?:\.\w+)?\s*\(\s*|System\.getenv\s*\(\s*)"([^"]+)"""".r
    val anyRead = """sys\.env\b|System\.getenv\b""".r
    val keys = sources.flatMap { case (_, text) => keyed.findAllMatchIn(text).map(_.group(1)) }
    // every read names its key literally, so the set below is complete
    assert(keys.size === sources.map { case (_, text) => anyRead.findAllIn(text).size }.sum)
    assert(keys.toSet === Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS"))
  }
}
