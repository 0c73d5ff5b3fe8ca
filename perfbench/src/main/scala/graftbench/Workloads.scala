package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Queries, Tables}
import graft.operators.{Dedup, Incremental}
import graft.sources.Sinks

/** What one operation of a pass records: the wall time of each of its
  * phases (call, action, read, operate, publish), in order. */
final class Phases {
  val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def apply[T](kind: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally spans += ((kind, t0, System.currentTimeMillis()))
  }
}

/** One operation of a workload. `run` is the timed body; `check` runs
  * after it, outside the timed region, and returns named observations
  * (row count plus order-independent hash, or a row count) that must
  * equal the references. `warm` is true on the untimed first pass. */
final case class Op(name: String, kind: String,
                    run: (Int, Boolean, Phases) => Unit,
                    check: (Int, Boolean) => Seq[(String, String)])

object Workloads {

  /** Row count plus the decimal sum of a 64-bit hash of every row: equal
    * for equal multisets of rows, whatever the partitioning or order. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A catalog key: the call returns the frame (streaming drains run
    * here), the action materializes every row to the noop sink. The
    * untimed pass fingerprints the frame instead. */
  private def queryOp(s: SparkSession, dir: String, key: String, kind: String = "query"): Op =
    Op(key, kind,
      (_, warm, ph) => {
        val df = ph("call")(Queries.production(key)(s, dir))
        if (warm) lastFp(key) = fingerprint(df) else ph("action")(noop(df))
      },
      (_, warm) => if (warm) Seq(key -> lastFp(key)) else Nil)

  private val lastFp = scala.collection.mutable.Map.empty[String, String]

  // A few keys, so that a run of every workload fits the benchmark's
  // time budget (README.md lists what was left out).
  val etlKeys: Seq[String] = Seq("q01_agg", "q07_parse_dollars")
  val streamKeys: Seq[String] = Seq("s06_stream_sessionize")

  def etlBatch(s: SparkSession, dir: String, root: String): (Seq[Op], Seq[Op]) = {
    // rows per chunk of the load: 100k of lineitem's 600k at sf0.1
    val chunk = math.max(1000L, Tables.lineitem(s, dir).count() / 6)
    def load(name: String, frame: => DataFrame, ref: String): Op = {
      val out = s"$root/load/$name"
      Op(s"load.$name", "load",
        (_, _, ph) => {
          val df = ph("call")(frame)
          ph("publish")(Sinks.writeChunked(df, out, chunk))
        },
        (_, _) => Seq(ref -> fingerprint(s.read.parquet(out))))
    }
    (etlKeys.map(queryOp(s, dir, _)),
      Seq(load("q19", Queries.production("q19_etl_pipeline")(s, dir), "q19_etl_pipeline"),
        load("lineitem", Tables.lineitem(s, dir), "table.lineitem")))
  }

  def streamDrain(s: SparkSession, dir: String): Seq[Op] =
    streamKeys.map(queryOp(s, dir, _, "drain"))

  /** The dup-group lifecycle d17 composes, through persisted state. The
    * build over the base corpus is the once-per-corpus bootstrap and runs
    * in set-up; each timed pass then appends batch one to that base and
    * deletes the takedown slice, each step a read-state → operate →
    * publish cycle into a new version directory of the pass. Returns
    * (build, steps, newest live version of a pass). */
  def stateLifecycle(s: SparkSession, dir: String, root: String): (Op, Seq[Op], Int => String) = {
    val base = s"$root/state/base"
    def v(p: Int, k: Int) = if (k == 0) base else s"$root/state/p$p/groups/v$k"
    // (id, lbl) rows, lbl the component's smallest doc id: canonical, so
    // the fingerprint checks the grouping itself, not just the row count
    def labels(name: String, path: String) = {
      val l = s.read.parquet(s"$path/labels")
      Seq(s"groups.$name.labels" -> fingerprint(l),
        s"groups.$name.groups" -> l.select("lbl").distinct().count().toString)
    }
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val id = col("doc_id")
    val batch1 = pmod(id, lit(Incremental.IngestMod)) === 0
    val batch2 = pmod(id, lit(Incremental.IngestMod)) === Incremental.ComposedBatch2Res
    val deleted = id % Incremental.DeleteMod === Incremental.DeleteRes

    val build = Op("groups.build", "build",
      (_, _, ph) => {
        val st = ph("operate")(Incremental.groupLifecycleOf(s, docs.filter(!batch1 && !batch2)))
        ph("publish")(Incremental.writeGroupLifecycle(st, base))
      },
      (_, _) => labels("build", base))
    def step(name: String, kind: String, from: Int,
             f: Incremental.GroupLifecycleState => Incremental.GroupLifecycleState): Op =
      Op(s"groups.$name", kind,
        (p, _, ph) => {
          val st = ph("read")(Incremental.readGroupLifecycle(s, v(p, from)))
          val next = ph("operate")(f(st))
          ph("publish")(Incremental.writeGroupLifecycle(next, v(p, from + 1)))
        },
        (p, _) => labels(name, v(p, from + 1)))
    val steps = Seq(
      step("append", "append", 0, st => {
        val b = docs.filter(batch1)
        val sh = graft.Checkpoints.cut(Dedup.shingledDocs(s, b))
        Incremental.appendGroupLifecycle(s, st, b.select(id.as("id")), sh)
      }),
      step("delete", "delete", 1,
        st => Incremental.deleteGroupLifecycle(s, st, docs.filter(deleted).select(id.as("id")))))
    (build, steps, p => v(p, 2))
  }
}
