package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The gate list (`graft.gates.Gates.all`) and the driver maps derived
  * from it. No Spark session: nothing here runs a gate. */
class GateSpec extends AnyFunSuite {

  test("273 gates with distinct names, each with a non-empty oracle") {
    val names = gates.Gates.all.map(_.name)
    assert(names.size == 273)
    // a duplicate would otherwise vanish silently in the derived maps
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val empty = gates.Gates.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"gates with an empty oracle: $empty")
  }

  test("only the driver mains reference graft.gates under src/main") {
    val main = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 30, "run from the project root")
    val mains = Seq("SparkEntry.scala", "Bench.scala", "Verify.scala").map(main.resolve)
    val ref = """\bgraft\.gates\b|\bimport\s+gates\b|\bgates\.[A-Z]""".r
    def refers(p: java.nio.file.Path): Boolean =
      java.nio.file.Files.readAllLines(p).asScala.exists { l =>
        val t = l.trim
        !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) && ref.findFirstIn(l).nonEmpty
      }
    val engine = files.filterNot(p => p.startsWith(main.resolve("gates")) || mains.contains(p))
    val strays = engine.filter(refers)
    assert(strays.isEmpty, s"engine files that reference graft.gates: ${strays.mkString(", ")}")
    assert(refers(main.resolve("SparkEntry.scala")), "the scan no longer sees SparkEntry's reference")
  }
}
