package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.ParquetFooter
import graft.operators.IvfIndex

/** The driver-side footer schema reader gives the schema Spark's own
  * inference gives, and the catalog registers a directory with no Spark job. */
class ParquetFooterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  // GraftSession owns the parquet session confs (nanosAsLong, no NTZ)
  private lazy val session = TestSpark.session

  private def tables: Seq[java.io.File] =
    new java.io.File(TestSpark.sf).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  private def inferred(path: String) = spark.read.parquet(path).schema
  private def pinned(path: String) =
    spark.read.schema(ParquetFooter.read(spark, path).schema).parquet(path).schema

  test("footer schema equals inference on every testdata table; registered relations too") {
    val fresh = new GraftSession(spark).registerDir(TestSpark.sf)
    assert(tables.size == 10)
    tables.foreach { f =>
      assert(ParquetFooter.read(spark, f.getPath).schema == inferred(f.getPath), f.getName)
      val rel = fresh.catalog.relation(f.getName.stripSuffix(".parquet"))
      assert(rel.schema == inferred(f.getPath), f.getName)
    }
  }

  test("registerDir runs no Spark job") {
    session
    val (_, c) = obs.Obs.around(spark)(new GraftSession(spark).registerDir(TestSpark.sf))
    assert(c.jobs == 0, c)
  }

  test("a part-file directory: the footer inference picks, hidden files skipped, merging honoured") {
    session
    val d = Files.createTempDirectory("footer_")
    val narrow = spark.range(4).select(col("id"), (col("id") * 2).as("b")).coalesce(1)
    narrow.write.parquet(s"$d/n")
    narrow.withColumn("extra", lit("x")).write.parquet(s"$d/w")
    def part(dir: String): Path = {
      val s = Files.list(d.resolve(dir))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    def table(files: (String, String)*): String = {
      val t = Files.createTempDirectory(d, "t_")
      files.foreach { case (from, name) => Files.copy(part(from), t.resolve(name)) }
      Files.createFile(t.resolve("_SUCCESS"))
      t.toString
    }
    // data files in path order; hidden wide footers sort first and are skipped
    val parts = table("n" -> "part-0.parquet", "w" -> "part-1.parquet",
      "w" -> ".part-00.parquet", "w" -> "_part-00.parquet")
    // a summary footer wins over every data file
    val summary = table("n" -> "part-0.parquet", "w" -> "_common_metadata")
    // Spark wrote these columns REQUIRED: the footer schema keeps them
    // non-nullable, and the pinned read makes them nullable as inference does
    Seq(parts -> Seq("id", "b"), summary -> Seq("id", "b", "extra")).foreach { case (p, names) =>
      assert(ParquetFooter.read(spark, p).schema.fieldNames.toSeq == names, p)
      assert(pinned(p) == inferred(p), p)
    }
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(pinned(parts) == inferred(parts))
      assert(inferred(parts).fieldNames.toSeq == Seq("id", "b", "extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("c=-partitioned IVF layouts read pinned with the inferred DataFrame schema") {
    val dir = Files.createTempDirectory("footer_ivf_").toString
    IvfIndex.save(session.catalog.relation("embeddings"), dir, IvfIndex.Pq(m = 8, k = 8),
      nlist = 4, iters = 1)
    val subs = new java.io.File(dir).listFiles().toSeq.filter(_.isDirectory).map(_.getPath)
    assert(subs.exists(p => new java.io.File(p).list().exists(_.startsWith("c="))), subs)
    subs.foreach(p => assert(pinned(p) == inferred(p), p))
  }

  test("TIMESTAMP(NANOS) columns are found in the footer and restored at registration") {
    session
    val d = Files.createTempDirectory("footer_nanos_")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(d.resolve("t.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1500000000123456789L))
    finally w.close()
    val p = d.resolve("t.parquet").toString
    val footer = ParquetFooter.read(spark, p)
    assert(footer.nanoCols == Set("ts"))
    assert(footer.schema("ts").dataType == LongType)
    assert(pinned(p) == inferred(p))
    val rel = new GraftSession(spark).registerDir(d.toString).catalog.relation("t")
    assert(rel.schema("ts").dataType == TimestampType)
    assert(rel.select(col("ts").cast("string")).head().getString(0) ==
      "2017-07-14 02:40:00.123456")
  }
}
