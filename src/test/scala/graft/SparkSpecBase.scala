package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = Sessions.local("4")
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf001 = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with everything in it when the
    * suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach { d =>
      if (Files.exists(d)) scala.util.Using.resource(Files.walk(d)) { paths =>
        paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
    } finally super.afterAll()
}
