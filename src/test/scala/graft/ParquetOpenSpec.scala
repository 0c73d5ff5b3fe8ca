package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Incremental
import graft.sources.{Sinks, Sources, StateDir}

/** `Sources.parquet` opens a table with the schema Spark's inference
  * would give, read from a footer on the driver: equal schemas on the
  * real tables, a multi-file state set, a partitioned table and a
  * multi-schema dir; Spark's own result or error where the driver read
  * does not apply; no Spark job for the open; the same schema and rows,
  * again with no job, from a state set's manifest ([[StateDir.read]]),
  * for a multi-table set and the cell-partitioned index set; and no other
  * schema-less parquet read left in `src/main`. */
class ParquetOpenSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def sameAsInference(path: String): Unit =
    assert(Sources.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  test("the footer schema equals inference on every table, a state set and a partitioned table") {
    Tables.names.foreach(n => sameAsInference(s"$sf/$n.parquet"))

    val dir = tempDir("graft-open-state").resolve("v1").toString
    StateDir.publish(dir, Seq(
      "labels" -> spark.range(0, 400).select(col("id"), (col("id") % 7).as("lbl"))
        .repartition(4),
      "events" -> Tables.events(spark, sf).repartition(3)))
    val files = scala.util.Using.resource(Files.list(Paths.get(dir, "labels")))(
      _.iterator().asScala.count(_.toString.endsWith(".parquet")))
    assert(files > 1, s"the labels table must span several files, got $files")
    Seq("labels", "events").foreach(n => sameAsInference(s"$dir/$n"))

    val part = tempDir("graft-open-part").resolve("t").toString
    val rows = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10)).toDF("k", "v", "p")
    Sinks.upsert(rows, part, Seq("k"), Some("p"))
    Sinks.upsert(Seq((2L, "B", 20), (4L, "d", 30)).toDF("k", "v", "p"),
      part, Seq("k"), Some("p"))
    sameAsInference(part)
    assert(Sources.parquet(spark, part).schema.fieldNames.toSeq == Seq("k", "v", "p"))
    assert(Sources.parquet(spark, part).as[(Long, String, Int)].collect().toSet ==
      Set((1L, "a", 10), (2L, "B", 20), (3L, "c", 10), (4L, "d", 30)))
  }

  test("an empty dir and schema merging give Spark's own result or error") {
    val empty = tempDir("graft-open-empty").toString
    val ours = intercept[AnalysisException](Sources.parquet(spark, empty))
    val theirs = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition && ours.getMessage == theirs.getMessage)
    val missing = s"$empty/none"
    assert(intercept[AnalysisException](Sources.parquet(spark, missing)).getMessage ==
      intercept[AnalysisException](spark.read.parquet(missing)).getMessage)

    val mixed = tempDir("graft-open-merge").resolve("t").toString
    Seq((1L, "a")).toDF("k", "a").write.parquet(mixed)
    Seq((2L, 2.0)).toDF("k", "b").write.mode("append").parquet(mixed)
    sameAsInference(mixed)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      sameAsInference(mixed)
      assert(Sources.parquet(spark, mixed).schema.fieldNames.toSet == Set("k", "a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  /** The ids of the jobs `open` starts before the frame's first action. */
  private def jobsOfOpen(open: => DataFrame): Seq[Int] = {
    val sc = spark.sparkContext
    val tag = s"graft-open-${System.nanoTime()}"
    try {
      sc.setJobGroup(s"$tag-open", "open")
      val df = open
      sc.setJobGroup(s"$tag-action", "action")
      df.limit(1).collect()
    } finally sc.clearJobGroup()
    // The status store takes job starts in order: once the action's job
    // shows, every job the open started shows too.
    val deadline = System.currentTimeMillis() + 20000
    while (sc.statusTracker.getJobIdsForGroup(s"$tag-action").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(s"$tag-action").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(s"$tag-open").toSeq
  }

  test("opening a table starts no Spark job") {
    val path = s"$sf/lineitem.parquet"
    assert(jobsOfOpen(spark.read.parquet(path)).nonEmpty,
      "inference must show as a job, or this test sees nothing")
    assert(jobsOfOpen(Sources.parquet(spark, path)).isEmpty)
    assert(jobsOfOpen(Tables.events(spark, sf)).isEmpty)
  }

  test("a state read through the manifest gives the footer open's schema and rows, with no job") {
    val dir = tempDir("graft-open-manifest").resolve("v1").toString
    StateDir.publish(dir, Seq(
      "labels" -> spark.range(0, 400).select(col("id"), (col("id") % 7).as("lbl"))
        .repartition(4),
      "events" -> Tables.events(spark, sf).repartition(3)))
    val index = tempDir("graft-open-index").resolve("v1").toString
    Incremental.writeFullIndexState(spark, sf001, index)
    for ((d, t) <- Seq(dir -> "labels", dir -> "events", index -> "centroids", index -> "index")) {
      val read = StateDir.read(spark, d, t).head
      val open = Sources.parquet(spark, s"$d/$t")
      assert(read.schema == open.schema, s"$d/$t")
      assert(read.collect().map(_.toString).sorted.toSeq ==
        open.collect().map(_.toString).sorted.toSeq, s"$d/$t")
      assert(jobsOfOpen(StateDir.read(spark, d, t).head).isEmpty, s"$d/$t")
    }
    assert(StateDir.read(spark, index, "index").head.schema.fieldNames.last == "cell")
  }

  /** A parquet read on `DataFrameReader` with no `.schema(` in its chain. */
  private val schemaLess =
    """\.read(\s*\.\s*option\([^()]*\))*\s*\.\s*parquet\(""".r

  test("no file in src/main but Sources.scala reads parquet without a schema") {
    assert(schemaLess.findFirstIn("s.read.parquet(p)").nonEmpty)
    assert(schemaLess.findFirstIn("s.read\n  .option(\"a\", \"b\").parquet(p)").nonEmpty)
    assert(schemaLess.findFirstIn("s.read.schema(t).parquet(p)").isEmpty)
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no sources at $root")
    val offenders = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Sources.scala")
        .filter(p => schemaLess.findFirstIn(Files.readString(p)).nonEmpty)
        .map(root.relativize(_).toString).toList
    }
    assert(offenders.isEmpty,
      s"open parquet tables through Sources.parquet: ${offenders.mkString(", ")}")
  }
}
