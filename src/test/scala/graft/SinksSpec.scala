package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Sinks, Sources}

/** Sources/sinks round trips (SURVEY §2.G). */
class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-sinks").toString

  test("csv round trip with explicit schema; malformed cells null out") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,price,label\n1,10.5,a\n2,not_a_number,b\n3,,c\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType),
      StructField("label", StringType)))
    val df = Sources.csv(spark, s"$dir/in.csv", schema)
    assert(df.count() == 3)
    assert(df.filter(col("price").isNull).count() == 2) // coerce, don't fail
  }

  test("corrupt-record capture: bad rows quarantined with raw text, good rows unaffected") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id":1,"price":10.5}
        |{"id":2,"price":}
        |{"id":3,"price":7.25}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val (good, bad) = Sources.splitCorrupt(
      Sources.jsonCaptureCorrupt(spark, s"$dir/in.json", schema))
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(good.columns.toSeq == Seq("id", "price")) // audit col dropped
    val raw = bad.collect().map(_.getString(0)).toSet
    assert(raw == Set("""{"id":2,"price":}""", "not json at all"))
  }

  test("corrupt-record capture on csv: unparseable numeric cell keeps its raw line") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,price\n1,10.5\n2,not_a_number\n3,7.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType)))
    val (good, bad) = Sources.splitCorrupt(
      Sources.csvCaptureCorrupt(spark, s"$dir/in.csv", schema))
    // a row with ANY unparseable cell is quarantined whole (raw line),
    // not silently half-nulled into the clean stream
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(bad.collect().map(_.getString(0)).toSeq == Seq("2,not_a_number"))
  }

  test("json-lines with ragged keys resolves to null columns") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id":1,"title":"x","alt_title":"y"}
        |{"id":2,"title":"z"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("title", StringType),
      StructField("alt_title", StringType)))
    val df = Sources.json(spark, s"$dir/in.json", schema)
    assert(df.count() == 2)
    assert(df.filter(col("alt_title").isNull).count() == 1)
  }

  test("partitioned parquet write creates partition directories and prunes") {
    val dir = tmp() + "/part"
    val df = Seq((1L, "O"), (2L, "F"), (3L, "O")).toDF("id", "status")
    Sinks.writePartitioned(df, dir, Seq("status"))
    assert(new java.io.File(s"$dir/status=O").exists())
    val back = Sources.parquet(spark, dir).filter(col("status") === "O")
    assert(back.count() == 2)
    // partition pruning visible in the scan
    val plan = back.queryExecution.executedPlan.toString
    assert(!plan.contains("status=F"))
  }

  test("orc round trip preserves schema and pushes filters to the scan") {
    val dir = tmp() + "/orc"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "v")
    Sources.writeOrc(df, dir)
    val back = Sources.orc(spark, dir)
    // names+types survive (nullability widens to true on any file read)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    val plan = back.filter(col("id") > 1L).select("id", "name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"), plan.take(2000))
  }

  test("chunked write bounds records per file (the 1M-row chunk analog)") {
    val dir = tmp() + "/chunk"
    Sinks.writeChunked((1 to 1000).toDF("id").coalesce(1), dir, 100L)
    val files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == 10, s"expected 10 chunk files, got $files")
    assert(Sources.parquet(spark, dir).count() == 1000)
  }

  test("bucketed tables join without a shuffle exchange") {
    for (t <- Seq("bkt_a", "bkt_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a crashed prior run can leave an orphaned managed location behind
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "vb")
    Sinks.writeBucketed(a, "bkt_a", "k", 8)
    Sinks.writeBucketed(b, "bkt_b", "k", 8)
    // force the sort-merge path (tiny test tables would broadcast, which
    // hides the property under test: bucket co-location removes shuffles)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed-by-key join must not shuffle")
      assert(j.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("jdbc sink: replace and append semantics round-trip (embedded Derby)") {
    // Embedded Derby stands in for the reference's PostgreSQL target
    // (challenge.py:291-308): same df.write.jdbc path, swap the URL for a
    // real RDBMS in production.
    System.setProperty("derby.stream.error.file", tmp() + "/derby.log")
    val url = s"jdbc:derby:${tmp()}/graftdb;create=true"
    val driver = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val df = Seq((1L, "a", 10.5), (2L, "b", 20.0), (3L, "c", 30.25))
      .toDF("id", "name", "value")
    Sinks.writeJdbc(df, url, "movies", mode = "overwrite", batchSize = 2,
      driver = driver)
    assert(Sources.readJdbc(spark, url, "movies", driver).count() == 3)
    // replace: a second overwrite must not accumulate
    Sinks.writeJdbc(df, url, "movies", mode = "overwrite", batchSize = 2,
      driver = driver)
    assert(Sources.readJdbc(spark, url, "movies", driver).count() == 3)
    // append: incremental load accumulates
    Sinks.writeJdbc(df, url, "movies", mode = "append", batchSize = 2,
      driver = driver)
    val back = Sources.readJdbc(spark, url, "movies", driver)
    assert(back.count() == 6)
    // values survive the round trip
    assert(back.filter(col("id") === 1L).select("value")
      .collect().map(_.getDouble(0)).forall(_ == 10.5))
  }

  test("upsert: matching keys replaced, new keys appended, misses kept") {
    val dir = tmp() + "/ups"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(dir)
    Sinks.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), dir, Seq("id"))
    val got = Sources.parquet(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // idempotent re-apply
    Sinks.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), dir, Seq("id"))
    assert(Sources.parquet(spark, dir).count() == 4)
  }

  test("partitioned upsert rewrites only the touched partitions") {
    val dir = tmp() + "/upsp"
    Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2), (4L, "d", 2))
      .toDF("id", "v", "p").write.partitionBy("p").parquet(dir)
    val before = new java.io.File(s"$dir/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    Sinks.upsert(Seq((3L, "C3", 2), (5L, "e", 2)).toDF("id", "v", "p"),
      dir, Seq("id"), partitionCol = Some("p"))
    val got = Sources.parquet(spark, dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "C3"), (4L, "d"), (5L, "e")))
    // untouched partition's files are bit-for-bit the originals
    val after = new java.io.File(s"$dir/p=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "p=1 must not be rewritten")
  }

  test("append mode accumulates; overwrite replaces") {
    val dir = tmp() + "/modes"
    val df = Seq(1L, 2L).toDF("id")
    Sinks.writeChunked(df, dir, 1000L)
    Sinks.append(df, dir)
    assert(Sources.parquet(spark, dir).count() == 4)
    Sinks.writeChunked(df, dir, 1000L) // overwrite default
    assert(Sources.parquet(spark, dir).count() == 2)
  }
}
