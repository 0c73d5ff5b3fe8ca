package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.streaming.StreamOps

/** The one bounded-drain harness under the streaming keys: after a
  * drain no memory-sink view stays registered in the session, no
  * events-source scratch dir stays under java.io.tmpdir, and the key's
  * [[StreamOps.Drain]] record counts the micro-batches the query itself
  * reported on the listener bus. A drain over a corpus without an
  * events table fails and leaves neither behind. */
class DrainHarnessSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.01"
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  private def scratchDirs(): Set[String] =
    scala.util.Using.resource(Files.list(tmp))(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_evsrc_")).toSet)

  private def sinkViews(): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter(_.contains("_sink_"))

  // What the listener bus reports for each query, by query id.
  private val names = TrieMap.empty[UUID, String]
  private val batches = TrieMap.empty[UUID, Long]
  private val ended = TrieMap.empty[UUID, Unit]
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = names(e.id) = e.name
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      batches(e.progress.id) = e.progress.batchId + 1
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended(e.id) = ()
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.streams.addListener(listener)
  }

  override protected def afterAll(): Unit =
    try spark.streams.removeListener(listener) finally super.afterAll()

  private val drains = Seq(
    "s06_stream_sessionize" -> (StreamOps.s06StreamSessionize _),
    "s07_stream_join" -> (StreamOps.s07StreamJoin _),
    "s08_stream_multibatch" -> (StreamOps.s08StreamSessionizeMB _))

  drains.foreach { case (key, run) =>
    test(s"$key: sink view dropped, scratch deleted, record = lastProgress.batchId + 1") {
      val scratchBefore = scratchDirs()
      val queriesBefore = names.keySet.toSet
      val rows = run(spark, sf).count()
      assert(rows > 0, "the frame built before the view drop must still read its rows")
      assert(sinkViews().isEmpty, s"sink view left registered: ${sinkViews()}")
      assert((scratchDirs() -- scratchBefore).isEmpty,
        s"scratch left under $tmp: ${scratchDirs() -- scratchBefore}")
      val id = eventually(timeout(30.seconds), interval(100.millis)) {
        val ids = names.collect {
          case (i, n) if !queriesBefore(i) && n.startsWith(key.take(3) + "_sink_") => i
        }
        assert(ids.size == 1 && ended.contains(ids.head))
        ids.head
      }
      assert(StreamOps.lastDrain.get(key).map(_.batches) == batches.get(id),
        s"record ${StreamOps.lastDrain.get(key)} vs the query's last progress")
    }
  }

  test("a drain over a corpus without events.parquet throws and leaves no scratch") {
    val noEvents = tempDir("graft_noevents_").toString
    drains.foreach { case (key, run) =>
      val scratchBefore = scratchDirs()
      intercept[Exception](run(spark, noEvents))
      assert((scratchDirs() -- scratchBefore).isEmpty, s"$key left scratch under $tmp")
      assert(sinkViews().isEmpty, s"$key left a sink view: ${sinkViews()}")
    }
  }
}
