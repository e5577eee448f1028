package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The gate harness's one stream driver (`StreamGates.drain`): a stream
  * gate leaves no sink view and no changed conf behind, and no other
  * code starts, drains or stops a stream by hand. */
class StreamDriverSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a stream gate leaves no temp view and no changed conf") {
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    // a value no gate uses, so a leak of the driver's own setting shows
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      // x56: complete mode (memory sink); x55: append from a MemoryStream
      // (memory sink); x58: append (file sink); x52: append with an extra conf
      val leaks = Seq("x56_session_window_stream", "x55_count_window_stream",
          "x58_stream_dedup", "x52_interval_join_stream").flatMap { gate =>
        val views = tempViews
        val before = confs.map(spark.conf.getOption)
        val rows = SparkEntry.queries(gate)(spark, TestSpark.sf).collect()
        assert(rows.nonEmpty, gate)
        if (rows.head.schema.fieldNames.contains("stream_matches_batch"))
          assert(rows.head.getAs[Int]("stream_matches_batch") == 1, gate)
        assert(spark.streams.active.isEmpty, gate)
        val after = confs.map(spark.conf.getOption)
        (if (tempViews == views) Nil else Seq(s"$gate left views ${tempViews -- views}")) ++
          (if (after == before) Nil else Seq(s"$gate changed confs $before -> $after"))
      }
      assert(leaks.isEmpty, leaks.mkString("; "))
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("streams start only in the driver; memory sinks drop their views") {
    val main = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 30, "run from the project root")
    def code(p: java.nio.file.Path): IndexedSeq[String] =
      java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq.map { l =>
        val t = l.trim
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
      }
    // StreamGates: the lifecycle calls appear inside `def drain` only, and
    // in q117, whose socket source never reports that it is finished, so
    // it polls its memory sink until every row has arrived
    val gates = code(main.resolve("graft/gates/StreamGates.scala"))
    def lines(start: String, end: String => Boolean): Range = {
      val from = gates.indexWhere(_.contains(start))
      from to (if (from < 0) -1 else gates.indexWhere(end, from + 1))
    }
    val allowed = Seq(lines("private def drain(", _.startsWith("  }")),
      lines("Gate(\"q117_socket_source\"", _.contains("Gate(")))
    val calls = Seq("processAllAvailable", "writeStream", "format(\"memory\")",
      "Sinks.memory(", "Sinks.parquet(")
    val strays = gates.zipWithIndex.collect {
      case (l, i) if !allowed.exists(_.contains(i)) && calls.exists(l.contains) => s"${i + 1}: ${l.trim}"
    }
    assert(strays.isEmpty, "stream lifecycle outside StreamGates.drain:\n" + strays.mkString("\n"))
    // every file that starts a memory sink also drops a view; Sinks.memory
    // is the API itself (its caller owns the view)
    val sinks = main.resolve("graft/streaming/Sinks.scala")
    val leaky = files.filter(_ != sinks).filter { p =>
      val c = code(p).mkString("\n")
      val starts = "format\\(\"memory\"\\)|Sinks\\.memory\\(".r.findAllIn(c).size
      starts > "dropTempView\\(".r.findAllIn(c).size
    }
    assert(leaky.isEmpty, s"memory sinks whose views stay: ${leaky.mkString(", ")}")
  }
}
