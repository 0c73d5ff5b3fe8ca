package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Natives, TopKByScore}

/** The five bounded k-best aggregates against Spark's own semantics:
  * `graft_topk` is row-for-row `row_number() over (order by score desc,
  * id) <= k` under Spark's double ordering (NaN above +Inf, −0.0 equal
  * to 0.0), and `k` is validated at analysis. */
class KBestSpec extends SparkSpecBase {

  test("graft_topk equals row_number() over (score desc, id) with NaN, ±0.0, ±Inf and ties") {
    import spark.implicits._
    val specials = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, 1.5, -2.0)
    // 9 groups of 12 rows: every special value in every group, rotated
    // so NaN and −0.0 arrive early in some groups and late in others,
    // plus score ties broken only by id
    val rows = for (g <- 0 until 9; j <- 0 until 12) yield {
      val s = specials((j + g) % specials.length)
      (g, s, ((j * 7 + g * 5) % 12).toLong + 100L * g)
    }
    val df = rows.toDF("g", "score", "id")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    for (k <- Seq(1, 3, 20); p <- Seq(1, 3, 7)) {
      val want = df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .collect().map(r => (r.getInt(0), r.getInt(3) - 1, bits(r.getDouble(1)), r.getLong(2)))
        .sorted.toSeq
      val got = df.repartition(p).groupBy("g")
        .agg(TopKByScore(spark, struct(col("score"), col("id")), k).as("t"))
        .select(col("g"), posexplode(col("t")))
        .collect().map { r =>
          val e = r.getStruct(2)
          (r.getInt(0), r.getInt(1), bits(e.getDouble(0)), e.getLong(1))
        }.sorted.toSeq
      assert(got == want, s"k=$k partitions=$p")
    }
  }

  test("k < 1 is an analysis error naming the function; a huge k allocates lazily") {
    Natives.all.foreach(n => Natives.register(spark, n.name))
    val args = Map(
      "graft_topk" -> "struct(cast(v as double), cast(v as bigint))",
      "graft_topk_long" -> "struct(cast(v as bigint), cast(v as bigint))",
      "graft_topk_terms" ->
        "struct(cast(v as bigint), cast(v as string), cast(v as bigint), cast(v as bigint))",
      "graft_mink" -> "cast(v as bigint)",
      "graft_mink_pairs" -> "struct(cast(v as bigint), cast(v as bigint))")
    def call(f: String, k: String): Seq[Row] =
      spark.sql(s"SELECT ${f}(${args(f)}, $k) AS r FROM VALUES (5), (1), (3) AS tab(v)")
        .collect().toSeq
    for (f <- args.keys; k <- Seq("0", "-1")) {
      val e = intercept[AnalysisException](call(f, k))
      assert(e.getMessage.contains(f), s"$f k=$k: ${e.getMessage}")
    }
    assert(call("graft_mink", "2147483647").head.getSeq[Long](0) == Seq(1L, 3L, 5L))
    // 2^32 + 1 must not wrap to k = 1
    val e = intercept[IllegalArgumentException](call("graft_mink", "4294967297"))
    assert(e.getMessage.contains("4294967297"), e.getMessage)
  }
}
