package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's parquet inference gives a path, read on the driver.
  *
  * Why this exists: a parquet read given no schema infers it through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which reads ONE footer
  * (the first data file by path, when schema merging is off and no
  * summary file exists) inside a `parallelize(...).collect()` job: a
  * scheduler round trip per table open (5 of the 12 jobs of a perfbench
  * etl_batch pass). The same footer read on the driver
  * (`readParquetFootersInParallel`, driver threads) through the same
  * conversion (`readSchema`: the session's converter flags,
  * `nanosAsLong` included) gives the same schema with no job. Those
  * helpers and the session's Hadoop conf are Spark-internal, which is
  * why this one file lives in Spark's parquet package. So is what
  * [[listed]] needs to open a known file list (the persisted-state read)
  * with no listing at all: the file index's listing cache and the
  * relation's nullable schema. */
object GraftParquetFooter {

  /** The data schema of the parquet table at `path`, or None where the
    * driver read does not cover what inference would do: a missing path,
    * no data files, summary files present, schema merging on, or an
    * unreadable footer. Partition columns are not part of it; Spark's
    * partition discovery adds them when the table is opened. */
  def dataSchema(s: SparkSession, path: String): Option[StructType] =
    if (s.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = s.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val files = if (fs.exists(root)) leaves(fs, root) else Nil
      if (files.exists(f => isSummary(f.getPath))) None
      else files.sortBy(_.getPath.toString).headOption.flatMap { first =>
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(first),
            ignoreCorruptFiles = true), s)
      }
    }

  /** The files Spark's file index lists under `p`, hidden names skipped
    * by Spark's own rule. Plain statuses: a located listing
    * (`listFiles`) of the local file system loads each file's
    * permissions with a shell command. */
  def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(st => HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leaves(fs, st.getPath) else Seq(st))

  /** The parquet table over exactly `files` (path under `base` → bytes)
    * with read schema `schema`: the file list is handed to the file index
    * as the cached listing of its one root, so the open lists nothing (a
    * reader given more than `parallelPartitionDiscovery.threshold` file
    * paths lists them in a Spark job) and reads no footer. Partition
    * values come from the file paths, typed by `schema`. */
  def listed(s: SparkSession, base: String, schema: StructType,
             partitionBy: Option[String], files: Map[String, Long]): DataFrame = {
    val root = new Path(base)
    val qualified = root.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(root)
    val leaves = files.toArray.map { case (f, n) =>
      new FileStatus(n, false, 1, 0L, 0L, new Path(s"$qualified/$f")) }
    val handed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = Option.when(p == qualified)(leaves)
      override def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val (parts, data) = schema.asNullable.partition(f => partitionBy.contains(f.name))
    s.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(s, Seq(qualified), Map.empty, Some(schema), handed),
      StructType(parts), StructType(data), None, new ParquetFileFormat, Map.empty)(s))
  }

  private def isSummary(p: Path): Boolean =
    p.getName == ParquetFileWriter.PARQUET_METADATA_FILE ||
      p.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
}
