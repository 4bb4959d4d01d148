package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[parquet]` footer-to-schema conversion. Schema
  * inference for `spark.read.parquet` runs these same two calls inside a
  * one-task Spark job; for a single file the engine makes them on the
  * driver instead, so resolving a source launches no job. Spark's
  * row-metadata key, timestamp-NTZ inference, the int96/binary flags and
  * the TIMESTAMP(NANOS) error come from the same converter and session
  * conf, so the schema is the one inference would return. */
object FooterSchema {

  /** The Spark schema of the parquet file at `path`, read from its footer
    * on the driver; `None` when `path` is not a plain file or its footer
    * cannot be read or converted (the caller then lets Spark infer). */
  def of(spark: SparkSession, path: String): Option[StructType] = Try {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (!status.isFile) None
    else {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(status.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }.toOption.flatten
}
