package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Incremental
import graft.sources.StateDir

/** The persisted-state publish protocol: a table set appears whole or
  * not at all. Fault injection throws while writing table j of n, over
  * a fresh dir and over an existing version; readers must still see the
  * previous version row-for-row, and a retry must equal a clean
  * publish. */
class StateDirSpec extends SparkSpecBase {
  import spark.implicits._

  /** `df` with column `c` replaced by one that throws when evaluated. */
  private def failing(df: DataFrame, c: String = "id"): DataFrame =
    df.withColumn(c, when(col(c).isNotNull, raise_error(lit("injected fault")))
      .otherwise(col(c)))

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected fault"))

  private val names = Seq("t1", "t2", "t3", "t4")
  private val parts = Map("t4" -> "p")

  /** Version `k` of a four-table set; table `failAt` (1-based) throws
    * when executed. */
  private def tables(k: Int, failAt: Int = 0): Seq[(String, DataFrame)] =
    names.zipWithIndex.map { case (n, i) =>
      val df = spark.range(0, 3 + i)
        .select(col("id"), lit(k).as("k"), (col("id") % 2).as("p"))
      n -> (if (i + 1 == failAt) failing(df) else df)
    }

  private def rows(dir: String): Seq[Set[Row]] =
    StateDir.read(spark, dir, names: _*).map(_.collect().toSet)

  test("publish failing at table j of 4 leaves version k readable; a retry equals a clean publish") {
    val root = tempDir("graft-statedir").toString
    StateDir.publish(s"$root/clean1", tables(1), parts)
    StateDir.publish(s"$root/clean2", tables(2), parts)
    val v1 = rows(s"$root/clean1")
    val v2 = rows(s"$root/clean2")
    assert(v1 != v2 && v1.forall(_.nonEmpty))
    for (j <- 1 to 4) {
      val fresh = s"$root/fresh$j"
      val e1 = intercept[Exception](StateDir.publish(fresh, tables(1, j), parts))
      assert(injected(e1), s"table $j: the write's own exception propagates")
      assert(!Files.exists(Paths.get(fresh)), s"table $j: nothing published")
      StateDir.publish(fresh, tables(1), parts)
      assert(rows(fresh) == v1)

      val existing = s"$root/existing$j"
      StateDir.publish(existing, tables(1), parts)
      val e2 = intercept[Exception](StateDir.publish(existing, tables(2, j), parts))
      assert(injected(e2))
      assert(rows(existing) == v1, s"table $j: version k still whole")
      StateDir.publish(existing, tables(2), parts)
      assert(rows(existing) == v2)
    }
    val residue = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.split('/').last.startsWith("."))
    assert(residue.isEmpty, s"staging/old dirs left behind: ${residue.mkString(", ")}")
  }

  test("writeGroupLifecycle over an existing version: a failing bands write leaves version k whole") {
    val dir = tempDir("graft-statedir-lc").resolve("v1").toString
    def state(k: Long) = Incremental.GroupLifecycleState(
      Seq((1L, k), (2L, k)).toDF("id", "lbl"),
      Seq((1L, 2L, k)).toDF("id_a", "id_b", "lbl"),
      Seq((1L, 0, k)).toDF("doc_id", "band", "bsig"),
      Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "sh"))
    def read(): Seq[Set[Row]] = {
      val st = Incremental.readGroupLifecycle(spark, dir)
      Seq(st.labels, st.pairs, st.bands, st.shingles).map(_.collect().toSet)
    }
    Incremental.writeGroupLifecycle(state(1), dir)
    val before = read()
    val bad = state(2).copy(bands = failing(state(2).bands, "doc_id"))
    val e = intercept[Exception](Incremental.writeGroupLifecycle(bad, dir))
    assert(injected(e))
    assert(read() == before, "no new labels/pairs beside old or missing bands")
    Incremental.writeGroupLifecycle(state(2), dir)
    assert(read().head == Set(Row(1L, 2L), Row(2L, 2L)))
  }

  test("latest reads only published v<k> dirs; a failed rename throws") {
    val root = tempDir("graft-statedir-latest")
    Seq("v0", "v2", "v10", ".v11.staging", ".v3.old-1", "vx", "ops")
      .foreach(n => Files.createDirectories(root.resolve(n)))
    assert(StateDir.latest(root.toString) == 10)
    intercept[IllegalArgumentException](
      StateDir.latest(tempDir("graft-statedir-empty").toString))
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException](StateDir.rename(fs,
      new org.apache.hadoop.fs.Path(root.resolve("missing").toString),
      new org.apache.hadoop.fs.Path(root.resolve("v20").toString)))
    assert(!Files.exists(root.resolve("v20")))
  }
}
