package graft

import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** Schema-drift canary: the driver regenerates /root/testdata between
  * rounds, and round 9 was burned by a silent events.ts re-encoding
  * (TIMESTAMP(NANOS)-as-long → TIMESTAMP(MICROS)) that surfaced as ten
  * opaque DATATYPE_MISMATCH analysis errors. This spec pins the physical
  * read type of every table column an operator depends on, so the NEXT
  * regeneration fails here with one precise message naming the drifted
  * column — before any catalog plan even builds.
  *
  * Columns with loader-absorbed encoding freedom (events.ts via
  * [[Tables.eventsWithTs]]) list every encoding the loader handles; the
  * loader's own normalized contract (ts_ns bigint nanos + ts TIMESTAMP)
  * is asserted separately.
  */
class SchemaCanarySpec extends SparkSpecBase {

  /** Acceptable physical types per depended-on column. Timestamp columns
    * accept LTZ and NTZ (pandas writes isAdjustedToUTC=false → NTZ; the
    * session tz is UTC so the distinction is value-free), and events.ts
    * additionally accepts the legacy nanos-as-long encoding. */
  private val contract: Map[String, Map[String, Set[DataType]]] = {
    def one(t: DataType) = Set[DataType](t)
    val ts = Set[DataType](TimestampType, TimestampNTZType)
    Map(
      "region" -> Map("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
      "nation" -> Map("n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
        "n_regionkey" -> one(IntegerType)),
      "customer" -> Map("c_custkey" -> one(LongType), "c_name" -> one(StringType),
        "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
        "c_mktsegment" -> one(StringType)),
      "supplier" -> Map("s_suppkey" -> one(LongType), "s_name" -> one(StringType),
        "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
      "part" -> Map("p_partkey" -> one(LongType), "p_name" -> one(StringType),
        "p_brand" -> one(StringType), "p_type" -> one(StringType),
        "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
      "orders" -> Map("o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
        "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
        "o_orderdate" -> ts, "o_orderpriority" -> one(StringType)),
      "lineitem" -> Map("l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
        "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
        "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
        "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
        "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
        "l_shipdate" -> ts),
      "events" -> Map("event_id" -> one(LongType),
        "ts" -> (ts + LongType), // legacy nanos-long OR µs timestamp; loader adapts
        "user_id" -> one(LongType), "event_type" -> one(StringType),
        "value" -> one(DoubleType), "props" -> one(StringType)),
      "documents" -> Map("doc_id" -> one(LongType), "text" -> one(StringType),
        "lang" -> one(StringType), "source" -> one(StringType),
        "n_chars" -> one(LongType)),
      "embeddings" -> Map("vec_id" -> one(LongType),
        "embedding" -> Set[DataType](ArrayType(FloatType, containsNull = true),
          ArrayType(FloatType, containsNull = false)),
        "label" -> one(IntegerType)))
  }

  test("every depended-on column of every table reads with its contracted type") {
    val drifted = for {
      (table, cols) <- contract.toSeq
      schema = Tables.load(spark, sf001, table).schema
      (name, accepted) <- cols.toSeq
      observed = schema.find(_.name == name).map(_.dataType)
      msg <- observed match {
        case None => Some(s"$table.$name: MISSING (have ${schema.fieldNames.mkString(",")})")
        case Some(t) if !accepted(t) =>
          Some(s"$table.$name: drifted to $t (accepted: ${accepted.mkString(" | ")})")
        case _ => None
      }
    } yield msg
    assert(drifted.isEmpty,
      s"testdata schema drift detected — fix the loader(s) before chasing " +
        s"downstream DATATYPE_MISMATCHes:\n  ${drifted.mkString("\n  ")}")
  }

  test("eventsWithTs normalizes every accepted encoding to ts_ns bigint + ts timestamp") {
    val df = Tables.eventsWithTs(spark, sf001)
    assert(df.schema("ts_ns").dataType == LongType,
      s"eventsWithTs.ts_ns must be bigint nanos, got ${df.schema("ts_ns").dataType}")
    assert(df.schema("ts").dataType == TimestampType,
      s"eventsWithTs.ts must be TIMESTAMP, got ${df.schema("ts").dataType}")
    // Value-level agreement between the two exposed encodings.
    val bad = df.filter(col("ts") =!=
      timestamp_micros(org.apache.spark.sql.functions.expr("ts_ns DIV 1000"))).count()
    assert(bad == 0L, s"$bad rows where ts != µs-truncated ts_ns")
  }

  test("eventsWithTs rejects an unsupported ts encoding with a named error") {
    val dir = tempDir("graft-canary").toString
    spark.range(3)
      .selectExpr("id AS event_id", "CAST(id AS STRING) AS ts", "id AS user_id",
        "'click' AS event_type", "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.eventsWithTs(spark, dir))
    assert(e.getMessage.contains("events.ts"), s"error must name the column: ${e.getMessage}")
    assert(e.getMessage.contains("StringType"), s"error must name the observed type: ${e.getMessage}")
  }
}
