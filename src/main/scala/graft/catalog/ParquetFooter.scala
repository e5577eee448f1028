package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** A parquet table's Spark schema and its top-level TIMESTAMP(NANOS)
  * columns, read on the driver from one footer. */
final case class ParquetFooter(schema: StructType, nanoCols: Set[String])

object ParquetFooter {

  /** The schema `spark.read.parquet(path)` infers, without its Spark job.
    * Schema inference with merging off reads one footer: `_common_metadata`,
    * else `_metadata`, else the first data file in path order, among the
    * leaf files the file index lists (hidden `_`/`.` names skipped,
    * `key=value` and other directories entered). This opens that footer
    * with the same converter. Partition columns are not in it, and
    * REQUIRED columns stay non-nullable; a read pinned to this schema
    * appends the former by partition discovery and makes every column
    * nullable, as inference does. With `spark.sql.parquet.mergeSchema` on,
    * Spark merges every footer, so the schema comes from Spark's own
    * inference. */
  def read(spark: SparkSession, path: String): ParquetFooter = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !f.getPath.getName.matches("_(common_)?metadata")))
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(pick, conf), SKIP_ROW_GROUPS)
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path).schema
      else ParquetFileFormat.readSchemaFromFooter(new Footer(pick.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val nanoCols = meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }) => f.getName
    }.toSet
    ParquetFooter(schema, nanoCols)
  }

  // the file index's hidden-name rule (HadoopFSUtils.shouldFilterOutPathName)
  private def hidden(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
      !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
}
