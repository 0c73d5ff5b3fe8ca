package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one list of graft's native Catalyst expressions: SQL name,
  * expression class (for DESCRIBE FUNCTION) and builder from the call
  * arguments. [[graft.GraftExtensions]] injects every entry; each
  * object's `register(spark)` looks itself up here. */
object Natives {
  final case class Native(name: String, cls: Class[_ <: Expression],
                          build: Seq[Expression] => Expression)

  val all: Seq[Native] = Seq(
    Native("graft_cosine", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    Native("graft_shingles", classOf[GraftShingles],
      e => GraftShingles(e(0), ExprArgs.int(e(1)))),
    Native("graft_ngrams", classOf[GraftNgrams],
      e => GraftNgrams(e(0), ExprArgs.int(e(1)))),
    Native("graft_gram_stats", classOf[GramStats],
      e => GramStats(e(0), ExprArgs.int(e(1)))),
    Native("graft_rhp_bucket", classOf[RhpBucket],
      e => RhpBucket(e(0), ExprArgs.int(e(1)), ExprArgs.int(e(2)), ExprArgs.int(e(3)))),
    Native("graft_mmr", classOf[GreedyMmr],
      e => GreedyMmr(e(0), e(1), ExprArgs.int(e(2)))),
    Native("graft_minhash_sig", classOf[MinhashSig],
      e => MinhashSig(e(0), ExprArgs.int(e(1))))) ++
    Seq(TopKByScore, TopKByLongScore, TopKTerms, MinKLong, MinKPairs).map(r =>
      Native(r.name, classOf[KBest], e => KBest(r, e(0), ExprArgs.int(e(1)))))

  /** Registers the entry named `name` on the session. Idempotent. */
  def register(spark: SparkSession, name: String): Unit = {
    val n = all.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no native function $name"))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      n.name, n.build, "built-in")
  }
}
