package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamOps

/** s01/s02 on a FILE-BASED streaming source with out-of-order input
  * files. The MemoryStream parity specs pin the transform semantics;
  * this covers the directory-ingestion path a production pipeline
  * actually runs — schema-explicit JSON-lines discovery, one file per
  * micro-batch, and the watermark's late-data drop contract end-to-end
  * when a whole FILE arrives hours behind the stream. */
class FileStreamSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Write-then-rename so the source never lists a half-written file. */
  private def publish(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, name))
  }

  test("s01 file stream: on-time files aggregate; a late file is dropped") {
    val dir = tempDir("graft-filestream").toString
    publish(dir, "b0.json", Seq(
      """{"ts":"2024-06-01 00:10:00","event_type":"view","value":1.0}""",
      """{"ts":"2024-06-01 00:20:00","event_type":"view","value":2.0}"""))
    val stream = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("maxFilesPerTrigger", 1) // one file = one micro-batch
      .json(dir)
    val q = StreamOps.windowAggStream(stream)
      .writeStream.format("memory").queryName("fs_s01")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // two flush files advance the watermark hours past the view window
      // (the watermark is computed from the PREVIOUS batch's max event time)
      publish(dir, "b1.json",
        Seq("""{"ts":"2024-06-01 06:00:00","event_type":"flush","value":0.0}"""))
      q.processAllAvailable()
      publish(dir, "b2.json",
        Seq("""{"ts":"2024-06-01 06:00:01","event_type":"flush","value":0.0}"""))
      q.processAllAvailable()
      // a whole file arriving out of order, behind the watermark: its
      // window was already emitted, so the contract is a silent drop
      publish(dir, "b3.json",
        Seq("""{"ts":"2024-06-01 00:15:00","event_type":"late","value":9.0}"""))
      q.processAllAvailable()
      publish(dir, "b4.json",
        Seq("""{"ts":"2024-06-01 06:00:02","event_type":"flush","value":0.0}"""))
      q.processAllAvailable()

      val t = spark.table("fs_s01")
      assert(t.filter(col("event_type") === "late").count() == 0,
        "late file behind the watermark must be dropped")
      val win = t.filter(col("event_type") === "view").collect()
      assert(win.length == 1, s"expected one emitted view window, got ${win.toSeq}")
      assert(win(0).getAs[Long]("n") == 2)
      assert(win(0).getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }
}
