package graft.io

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads of parquet dirs this engine wrote, without schema inference's
  * job. `spark.read.parquet` infers a schema by running a one-task Spark
  * job that reads one data file's footer (even for a single file); a
  * store that is written and read back in one build pays that job per
  * table. The footer of a file Spark wrote carries the schema it was
  * written with (the `org.apache.spark.sql.parquet.row.metadata` key),
  * which is exactly what inference returns for it, so it is read here on
  * the driver instead. A dir without such a file reads through plain
  * inference. */
private[graft] object ParquetSchema {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema in the footer of the first data file directly under
    * `dir`, if there is one. */
  private def of(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    Try(fs.listStatus(p)).toOption.toSeq.flatten
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.getName).headOption
      .flatMap { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally reader.close()
      }
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
  }

  /** `spark.read.parquet(paths)` (partition discovery under `basePath`,
    * when given), with the data schema taken from the first path's footer. */
  def read(spark: SparkSession, paths: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    of(spark, paths.head).fold(reader)(reader.schema).parquet(paths: _*)
  }
}
