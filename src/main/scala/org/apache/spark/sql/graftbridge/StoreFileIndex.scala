package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** A parquet read of a KNOWN file set under one root — the files a
  * store's commit log names (`graft.streaming.StoreLog`) — with no
  * directory listing. Spark lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) explicit
  * root paths with a Spark job of its own, so passing a large live set as
  * paths would cost every view an extra job; this index instead serves
  * the given files as the root's listing, exactly as the streaming file
  * sink's `MetadataLogFileIndex` serves its log. Partition discovery,
  * partition pruning, schema inference and size statistics are Spark's
  * own ([[PartitioningAwareFileIndex]], [[ParquetFileFormat]]), so the
  * scan plans like a directory read of the same files.
  */
final class StoreFileIndex(spark: SparkSession, root: Path,
                           files: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override val rootPaths: Seq[Path] = Seq(root)

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  override def refresh(): Unit = ()
}

object StoreFileIndex {

  /** The DataFrame over `files` (qualified paths under the qualified
    * `root`), built the way `spark.read.parquet(root)` builds one. */
  def read(spark: SparkSession, root: Path, files: Seq[FileStatus]): DataFrame = {
    val index = new StoreFileIndex(spark, root, files)
    val format = new ParquetFileFormat
    val dataSchema = format.inferSchema(spark, Map.empty, index.allFiles())
      .getOrElse(throw new IllegalStateException(
        s"unable to infer a parquet schema for the store at $root"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, Map.empty)(spark))
  }
}
