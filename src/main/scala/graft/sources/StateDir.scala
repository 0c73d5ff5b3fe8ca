package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted-state table sets, the incremental form of the reference's
  * full-replace load (challenge.py:311-325). A set is a directory with
  * one parquet table per name (`dir/<name>/`), written by [[publish]]
  * and read by [[read]]. [[publish]] writes every table under the hidden
  * sibling `.<name>.staging` (Spark's listing skips dot-names) and makes
  * the set visible with one rename; an existing set is first moved aside
  * to `.<name>.old-<stamp>` and deleted once the new one is in. A failed
  * write leaves `dir` as it was, and the next publish deletes the stale
  * staging dir. Hadoop's rename and delete report failure by RETURNING
  * FALSE (HDFS and S3A do not throw), so state is renamed and deleted
  * only through the checked [[rename]] and [[delete]].
  */
object StateDir {

  /** Publish `tables` (name → frame) as the set at `dir`; a table named
    * in `partitionBy` is written partitioned by that column. */
  def publish(dir: String, tables: Seq[(String, DataFrame)],
              partitionBy: Map[String, String] = Map.empty): Unit =
    staged(tables.head._2.sparkSession, dir) { staging =>
      tables.foreach { case (name, df) =>
        partitionBy.get(name).fold(df.write)(df.write.partitionBy(_))
          .mode("overwrite").parquet(s"$staging/$name")
      }
    }

  /** The named tables of the set at `dir`, in the order asked. */
  def read(s: SparkSession, dir: String, names: String*): Seq[DataFrame] =
    names.map(n => s.read.parquet(s"$dir/$n"))

  /** The newest published version k of a version root holding `v<k>`
    * sets (staging and old dirs are dot-names, never matched). */
  def latest(root: String): Int = {
    val p = new Path(root)
    val vs = fsOf(SparkSession.active, p).listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
    require(vs.nonEmpty, s"no published v<k> under $root")
    vs.max
  }

  /** Fill a fresh staging dir for `dir` with `write(stagingPath)`, then
    * swap it in as `dir`. */
  private[sources] def staged(s: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val fs = fsOf(s, new Path(dir))
    val target = fs.makeQualified(new Path(dir))
    val staging = stagingOf(fs, target)
    write(staging.toString)
    if (fs.exists(target)) {
      val old = new Path(target.getParent,
        s".${target.getName}.old-${System.nanoTime()}")
      rename(fs, target, old)
      rename(fs, staging, target)
      delete(fs, old)
    } else rename(fs, staging, target)
  }

  /** The hidden staging sibling of `target`, emptied of any residue a
    * killed run left. */
  private[sources] def stagingOf(fs: FileSystem, target: Path): Path = {
    val staging = new Path(target.getParent, s".${target.getName}.staging")
    delete(fs, staging)
    staging
  }

  private[sources] def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `fs.rename` that throws when the rename does not happen. */
  private[graft] def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** Recursive `fs.delete` of `p` if present, throwing when it fails. */
  private[graft] def delete(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete $p failed")
}
