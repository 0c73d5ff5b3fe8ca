package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under the scheme `faulty:`, whose renames fail
  * on demand: [[FaultyFs.failing]] arms a predicate over (from, to), and
  * the n-th rename it accepts returns false (the way HDFS and S3A report a
  * failed rename) instead of happening. Every rename is logged in
  * [[FaultyFs.renames]]. Spark's own write renames go through it too.
  * Statuses are plain ones: the local file system loads permissions from
  * a `file:` URI. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory, 1,
    st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.renames.add(src.toString -> dst.toString)
    !FaultyFs.fires(src, dst) && super.rename(src, dst)
  }
}

object FaultyFs {
  val renames = new ConcurrentLinkedQueue[(String, String)]()
  private var armed: Option[((Path, Path) => Boolean, Int)] = None

  private def fires(src: Path, dst: Path): Boolean = synchronized {
    armed match {
      case Some((p, n)) if p(src, dst) =>
        armed = if (n == 1) None else Some((p, n - 1)); n == 1
      case _ => false
    }
  }

  /** A `faulty:` dir for `dir`, with the scheme registered in `spark`. */
  def on(spark: SparkSession, dir: java.nio.file.Path): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    s"faulty://$dir"
  }

  /** Run `body` with the `n`-th rename that `p` accepts failing. */
  def failing[T](p: (Path, Path) => Boolean, n: Int = 1)(body: => T): T = {
    synchronized { armed = Some((p, n)) }
    try body finally synchronized { armed = None }
  }
}
