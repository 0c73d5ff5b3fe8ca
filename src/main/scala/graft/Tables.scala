package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Sources

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  * One parquet file per table under an sf directory. Tables open
  * through [[Sources.parquet]] (footer schema read on the driver, no
  * Spark job); Catalyst keeps full pushdown/pruning freedom.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.parquet(spark, s"$dir/$name.parquet")

  /** Spread a per-row-HEAVY pass (explode / regex / digest over every
    * row) across the session's parallelism when the input scan has
    * fewer splits than that: parquet scan parallelism is bounded by
    * ROW GROUPS, and a single-row-group file (small SFs here; one fat
    * unsplittable part in production) serializes the whole
    * generate/project stage onto its scan task — measured 5-10× on the
    * sf1 postings family, whose 50k-doc corpus is one row group, so
    * the bigram explode+aggregate ran on 1 core of 32. The exchange
    * ships RAW rows — strictly smaller than any exploded stream it
    * feeds — and is SKIPPED when the scan already has enough splits,
    * so the 100 TB case (thousands of row groups) pays nothing.
    * `key` must be a well-distributed column (row id); hash
    * partitioning on it keeps the plan deterministic (a bare
    * round-robin repartition inserts a full local sort for retry
    * determinism). Filters still reach the parquet scan: Catalyst
    * pushes deterministic predicates through RepartitionByExpression. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < n) df.repartition(n, key) else df
  }

  /** Schema-adaptive events loader. The driver has generated `events.ts`
    * two ways across rounds:
    *   - parquet TIMESTAMP(NANOS), which Spark 4 surfaces as a bigint when
    *     `spark.sql.legacy.parquet.nanosAsLong=true` ([[Sessions.local]]
    *     sets it; so do Bench/Verify) — we deliberately do NOT mutate
    *     session conf here;
    *   - parquet TIMESTAMP(MICROS), surfaced as TIMESTAMP or TIMESTAMP_NTZ
    *     depending on isAdjustedToUTC.
    * Both branches normalize to the same contract every downstream
    * operator depends on: `ts_ns` (exact bigint nanos — integer math only;
    * double division would lose precision at 1e18 magnitudes) and `ts`
    * (µs-precision TIMESTAMP). The session timezone is UTC, so the
    * NTZ→LTZ cast is value-preserving. */
  def eventsWithTs(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** The ts-normalization half of [[eventsWithTs]], factored out so a
    * STREAMING events read (s06's file-stream source, which must supply
    * its own schema) shares the exact same branch logic — schema drift is
    * handled identically whether the frame is batch or streaming. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val normalized = raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected bigint nanos " +
            "(legacy TIMESTAMP(NANOS)) or TIMESTAMP/TIMESTAMP_NTZ (µs)")
    }
    // Fixed output column order regardless of source encoding: the two
    // branches would otherwise place ts/ts_ns differently (positional
    // consumers and schema snapshots must not drift across regenerations).
    val others = raw.columns.filterNot(_ == "ts")
    normalized.select((others :+ "ts" :+ "ts_ns").map(col): _*)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
