package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Incremental, Retrieval}
import graft.sources.StateDir

/** The persisted-state commit protocol: a version of a table set appears
  * whole or not at all. Fault injection throws while writing table j of
  * n, over a fresh dir and over an existing version, and, for every
  * family and step, fails a rename of the commit: the write of each
  * table, the move of the first and the last file into the set and the
  * manifest's. Readers must still see the previous version row-for-row,
  * a retry must equal a clean step, and after it every table dir holds
  * exactly the live files. */
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

  /** The dirs holding the output of each of the `writes` parquet writes
    * `body` runs, failed writes included. */
  private def stagingOfWrites(writes: Int)(body: => Unit): Set[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = qe.logical.foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          seen.add(c.outputPath.getParent.getName)
        case _ =>
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(l)
    try {
      body
      val deadline = System.currentTimeMillis() + 20000
      while (seen.size < writes && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.size == writes, s"saw ${seen.size} of $writes writes")
    } finally spark.listenerManager.unregister(l)
    seen.toArray.map(_.toString).toSet
  }

  private def stagingLeft(root: String, name: String): Seq[String] =
    Files.list(Paths.get(root)).toArray.map(_.toString.split('/').last)
      .filter(_.startsWith(s".$name.staging")).toSeq

  test("publish failing at table j of 4 leaves version k readable; a retry equals a clean publish") {
    val root = tempDir("graft-statedir").toString
    StateDir.publish(s"$root/clean1", tables(1), parts)
    StateDir.publish(s"$root/clean2", tables(2), parts)
    val v1 = rows(s"$root/clean1")
    val v2 = rows(s"$root/clean2")
    assert(v1 != v2 && v1.forall(_.nonEmpty))
    for (j <- 1 to 4) {
      val fresh = s"$root/fresh$j"
      val failedIn = stagingOfWrites(j) {
        val e1 = intercept[Exception](StateDir.publish(fresh, tables(1, j), parts))
        assert(injected(e1), s"table $j: the write's own exception propagates")
      }
      assert(!Files.exists(Paths.get(fresh)), s"table $j: nothing published")
      val retriedIn = stagingOfWrites(names.size)(StateDir.publish(fresh, tables(1), parts))
      assert(failedIn.size == 1 && retriedIn.size == 1 && failedIn != retriedIn,
        s"table $j: the retry staged in $retriedIn, the failed attempt in $failedIn")
      assert(rows(fresh) == v1)
      assert(stagingLeft(root, s"fresh$j").isEmpty, s"table $j: staging dirs left")

      val existing = s"$root/existing$j"
      StateDir.publish(existing, tables(1), parts)
      val e2 = intercept[Exception](StateDir.publish(existing, tables(2, j), parts))
      assert(injected(e2))
      assert(rows(existing) == v1, s"table $j: version k still whole")
      StateDir.publish(existing, tables(2), parts)
      assert(rows(existing) == v2)
      assert(stagingLeft(root, s"existing$j").isEmpty, s"table $j: staging dirs left")
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

  private lazy val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
  private lazy val vecs = Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding"))

  private def groupState(k: Long) = Incremental.GroupLifecycleState(
    Seq((1L, k), (2L, k)).toDF("id", "lbl"),
    Seq((1L, 2L, k)).toDF("id_a", "id_b", "lbl"),
    Seq((1L, 0, k)).toDF("doc_id", "band", "bsig"),
    Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "sh"))

  private def postingsOf(dir: String, keep: Column): Unit =
    Retrieval.writePostingsLifecycleState(spark,
      Retrieval.postingsLifecycleOf(spark, docs.filter(keep)), dir)

  private def indexOf(dir: String): Unit = Incremental.writeFullIndexState(spark, sf001, dir)

  /** family step → (version k at a dir, the step to k+1). */
  private val steps: Seq[(String, String => Unit, String => Unit)] = Seq(
    ("group publish", d => Incremental.writeGroupLifecycle(groupState(1), d),
      d => Incremental.writeGroupLifecycle(groupState(2), d)),
    ("postings publish", postingsOf(_, col("doc_id") % 2 === 0),
      postingsOf(_, col("doc_id") % 2 === 1)),
    ("index append", indexOf,
      d => Incremental.appendToIndexState(spark, d, vecs.filter(col("vec_id") % 5 === 0))),
    ("index delete", indexOf, d => Incremental.deleteFromIndexState(spark, d,
      vecs.filter(col("vec_id") % 10 === 3).select("vec_id"))),
    ("index compact", d => {
      indexOf(d)
      Incremental.appendToIndexState(spark, d, vecs.filter(col("vec_id") % 5 === 0))
    }, d => Incremental.compactIndexState(spark, d)),
    ("postings append", postingsOf(_, col("doc_id") % 5 =!= 0),
      Retrieval.appendPostingsLifecycleState(spark, _, docs.filter(col("doc_id") % 5 === 0))),
    ("postings delete", postingsOf(_, lit(true)), Retrieval.deletePostingsLifecycleState(
      spark, _, docs.filter(col("doc_id") % 10 === 3).select("doc_id"))),
    ("postings compact", d => {
      postingsOf(d, lit(true))
      Retrieval.deletePostingsLifecycleState(spark, d,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
    }, Retrieval.compactPostingsLifecycle(spark, _)))

  /** Every table of the version at `dir`, rows sorted: through the
    * manifest, or (`plain`) by a plain parquet read of each table dir. */
  private def view(dir: String, plain: Boolean = false): Map[String, Seq[String]] =
    StateDir.tables(spark, dir).keys.map { t =>
      val df = if (plain) spark.read.parquet(s"$dir/$t") else StateDir.read(spark, dir, t).head
      t -> df.collect().map(_.toString).sorted.toSeq
    }.toMap

  private def path(p: String): String = new HPath(p).toUri.getPath

  /** A table written in the staging dir of the set named `d` (group 1). */
  private def stagedTable(d: String) = s"/\\.$d\\.staging-[0-9]+/([^/_][^/]*)/".r

  /** A data file moving from the staging dir into the set named `d`. */
  private def isMove(d: String, from: String, to: String): Boolean =
    from.contains(s"/.$d.staging-") && to.contains(s"/$d/") && !to.contains("/_manifest")

  /** The faults of a step that writes `written` and moves `moves` files:
    * (name, which renames of the set named `d` count, the failing one). */
  private def faults(written: Seq[String], moves: Int)
      : Seq[(String, (String, String, String) => Boolean, Int)] =
    written.map(t => (s"write of $t", (d: String, _: String, to: String) =>
      stagedTable(d).findFirstMatchIn(to).exists(_.group(1) == t), 1)) ++
      Seq(1, moves).filter(_ > 0).distinct.map(j => (s"move of file $j", isMove _, j)) :+
      (("manifest", (d: String, _: String, to: String) => to.contains(s"/$d/_manifest"), 1))

  test("every family and step: a failed commit rename leaves version k; a retry equals a clean step") {
    val root = FaultyFs.on(spark, tempDir("graft-statedir-faults"))
    for (((name, base, step), i) <- steps.zipWithIndex) {
      val clean = s"clean$i"
      base(s"$root/$clean")
      FaultyFs.renames.clear()
      step(s"$root/$clean")
      val expected = view(s"$root/$clean")
      val renames = FaultyFs.renames.toArray(Array.empty[(String, String)]).toSeq
        .map { case (f, t) => (path(f), path(t)) }
      val written = renames.flatMap { case (_, t) =>
        stagedTable(clean).findFirstMatchIn(t).map(_.group(1)) }.distinct
      val moves = renames.count { case (f, t) => isMove(clean, f, t) }
      assert(written.nonEmpty && moves > 0, s"$name: writes $written, moves $moves files")
      for (((fault, p, n), j) <- faults(written, moves).zipWithIndex) {
        val d = s"f${i}x$j"
        val dir = s"$root/$d"
        base(dir)
        val k = view(dir)
        intercept[Exception](FaultyFs.failing((f, t) => p(d, path(f.toString), path(t.toString)), n)(
          step(dir)))
        assert(view(dir) == k, s"$name, $fault: version k changed")
        step(dir)
        assert(view(dir) == expected, s"$name, $fault: the retry differs from a clean step")
        assert(view(dir, plain = true) == expected,
          s"$name, $fault: the table dirs hold more than the live files")
      }
    }
  }

  test("a postings append whose doclens write fails, retried, adds its rows once") {
    val root = FaultyFs.on(spark, tempDir("graft-statedir-retry"))
    val batch = docs.filter(col("doc_id") % 5 === 0)
    def rows(dir: String) = {
      val st = Retrieval.readPostingsLifecycleState(spark, dir)
      (Seq(st.postings, st.doclens, st.tombs).map(_.collect().map(_.toString).sorted.toSeq), st.curSeg)
    }
    postingsOf(s"$root/clean", col("doc_id") % 5 =!= 0)
    Retrieval.appendPostingsLifecycleState(spark, s"$root/clean", batch)
    val dir = s"$root/retried"
    postingsOf(dir, col("doc_id") % 5 =!= 0)
    intercept[Exception](FaultyFs.failing((_, to) => to.toUri.getPath.contains("/doclens/"))(
      Retrieval.appendPostingsLifecycleState(spark, dir, batch)))
    Retrieval.appendPostingsLifecycleState(spark, dir, batch)
    assert(rows(dir) == rows(s"$root/clean"))
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
