package graft.io

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads of parquet trees this engine wrote, with no Spark job before the
  * scan. `spark.read.parquet` pays two: schema inference runs a one-task
  * job that reads one data file's footer (even for a single file), and
  * partition discovery lists any dir with more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) children
  * in a job of its own — every epoch dir of the lex state holds 65
  * bucket dirs. Here the leaves are listed on the driver and handed to
  * the file index through a pre-filled status cache, and the data schema
  * comes from a footer: the footer of a file Spark wrote carries the
  * schema it was written with (the `org.apache.spark.sql.parquet.row
  * .metadata` key), which is exactly what inference returns for it.
  * Partition columns are inferred from the dir names as before. A tree
  * without such a file reads through plain `spark.read.parquet`. */
private[graft] object ParquetSchema {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Names partition discovery skips (Spark's rule for hidden and
    * in-progress paths: `_SUCCESS`, `_temporary`, `.crc` sidecars, ...). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Every visible file under `dir`, recursively; `None` when `dir` cannot
    * be listed. */
  private def leaves(fs: FileSystem, dir: Path): Option[Seq[FileStatus]] = {
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    Try(walk(dir)).toOption
  }

  /** The Spark schema in the footer of `file`, if it carries one. */
  private def footerSchema(conf: Configuration, file: FileStatus): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    Option(try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
      finally reader.close())
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
  }

  /** `spark.read.parquet(paths)` (partition discovery under `basePath`,
    * when given), with the leaves listed on the driver and the data
    * schema taken from the first data file's footer. */
  def read(spark: SparkSession, paths: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val listed = roots.flatMap(r => leaves(r.getFileSystem(conf), r).map(r -> _)).toMap
    // a root that cannot be listed reads through Spark, which reports it
    val schema =
      if (listed.size < roots.size) None
      else listed.values.flatten.filter(_.getPath.getName.endsWith(".parquet"))
        .toSeq.sortBy(_.getPath.toString).headOption.flatMap(footerSchema(conf, _))
    schema match {
      case None =>
        basePath.foldLeft(spark.read)(_.option("basePath", _)).parquet(paths: _*)
      case Some(dataSchema) =>
        val cache = new FileStatusCache {
          override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
            listed.get(path).map(_.toArray)
          override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }
        val options = basePath.map("basePath" -> _).toMap
        val index = new InMemoryFileIndex(spark, roots, options, None, cache)
        spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
          GraftSqlBridge.asNullable(dataSchema), None, new ParquetFileFormat, options)(spark))
    }
  }
}
