package graft

import org.apache.spark.sql.functions._
import graft.functions.{Text, Vec}

/** Unit semantics of the text/vector primitives on literal data. */
class TextFunSpec extends SparkSpecBase {
  import spark.implicits._

  test("shingles: distinct 3-grams, short docs yield empty") {
    val r = Seq("a b c d", "a b").toDF("t")
      .select(Text.shingles(col("t")).as("sh")).collect()
    assert(r(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r(1).getSeq[String](0).isEmpty)
  }

  test("jaccard on literal sets") {
    val r = Seq(1).toDF("x").select(
      Text.jaccard(array(lit("a"), lit("b"), lit("c")),
        array(lit("b"), lit("c"), lit("d"))).as("j")).collect()(0).getDouble(0)
    assert(math.abs(r - 0.5) < 1e-12)
  }

  test("hash60 matches the DuckDB-computable value") {
    // duckdb: CAST(('0x'||substr(md5('0:hello'),1,15)) AS BIGINT)
    val r = Seq(1).toDF("x")
      .select(Text.hash60(lit("hello"), 0).as("h")).collect()(0).getLong(0)
    assert(r == 670288084931774607L)
  }

  test("minhashSig matches a JVM-computed reference (same math d03 inlines relationally)") {
    val shingles = Seq("a b c", "b c d", "c d e")
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"0:$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = (0 until 4).map { j =>
      shingles.map(s => ((h60(s) % Text.MinhashMod) * Text.minhashA(j) +
        Text.minhashB(j)) % Text.MinhashMod).min
    }
    val got = Seq(1).toDF("x")
      .select(Text.minhashSig(array(shingles.map(lit(_)): _*), 4).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(got == expected)
  }

  test("simhash of identical docs is equal; near-dup within small hamming") {
    val doc = "spark table join scan filter agg window sort"
    val near = "spark table join scan filter agg window merge"
    val df = Seq(doc, doc, near).toDF("t")
      .select(Text.simhash(Text.tokens(col("t"))).as("fp")).collect()
    assert(df(0).getLong(0) == df(1).getLong(0))
    val ham = java.lang.Long.bitCount(df(0).getLong(0) ^ df(2).getLong(0))
    assert(ham <= 12, s"hamming $ham unexpectedly large for a near-dup")
  }

  test("cosine: orthogonal is 0, identical is 1") {
    val a = array(lit(1.0f), lit(0.0f))
    val b = array(lit(0.0f), lit(1.0f))
    val r = Seq(1).toDF("x").select(
      Vec.cosine(a, b).as("ab"), Vec.cosine(a, a).as("aa")).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("native graft_shingles equals portable Text.shingles on real docs") {
    val df = Tables.documents(spark, sf001)
      .select(Text.shingles(col("text")).as("portable"),
        graft.functions.GraftShingles(spark, col("text")).as("native"))
    assert(df.filter(col("portable") =!= col("native")).count() == 0)
  }

  test("native graft_shingles equals portable on whitespace edge cases") {
    val edges = Seq("", "a", "a b", "a b c", " a  b c ", "a b c b c d",
      "a\tb\nc d")
    val df = edges.toDF("t")
      .select(Text.shingles(col("t")).as("portable"),
        graft.functions.GraftShingles(spark, col("t")).as("native"))
    assert(df.filter(col("portable") =!= col("native")).count() == 0)
  }

  test("native graft_minhash_sig equals portable Text.minhashSig on real docs") {
    val df = Tables.documents(spark, sf001)
      .select(graft.functions.GraftShingles(spark, col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(Text.minhashSig(col("sh"), 16).as("portable"),
        graft.functions.MinhashSig(spark, col("sh"), 16).as("native"))
    assert(df.count() > 0)
    assert(df.filter(col("portable") =!= col("native")).count() == 0)
  }

  test("relational t04 fingerprint equals the portable rollingFingerprint fold") {
    val portable = Tables.documents(spark, sf001)
      .select(col("doc_id"),
        Text.rollingFingerprint(Text.tokens(col("text"))).as("fp"))
    val relational = graft.operators.TextAnalysis.t04Fingerprint(spark, sf001)
    assert(portable.exceptAll(relational).count() == 0 &&
      relational.exceptAll(portable).count() == 0)
  }

  test("native graft_rhp_bucket equals portable Vec.rhpBucket") {
    val e = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).limit(100)
    val df = e.select(
      Vec.rhpBucket(col("embedding"), 4, 64, 1008).as("portable"),
      graft.functions.RhpBucket(spark, col("embedding"), 4, 64, 1008).as("native"))
    assert(df.filter(col("portable") =!= col("native")).count() == 0)
  }

  test("native graft_cosine matches portable Vec.cosine bit-for-bit") {
    val e = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).limit(50)
    val a = e.toDF("ida", "va")
    val b = e.toDF("idb", "vb")
    graft.functions.CosineSimilarity.register(spark)
    val both = a.crossJoin(b)
      .select(Vec.cosine(col("va"), col("vb")).as("portable"),
        call_function("graft_cosine", col("va"), col("vb")).as("native"))
    assert(both.filter(col("portable") =!= col("native")).count() == 0)
  }

  test("t01 lexicons identify real multilingual sentences") {
    // One natural sentence per language, built from everyday function
    // words — the capability the 10-language marker tables exist for.
    val fixtures = Seq(
      1L -> ("en", "the cat sat on the mat and it was happy that the sun is out"),
      2L -> ("es", "el perro corre por la calle y los niños juegan en un parque"),
      3L -> ("fr", "le chien est dans les rues et une dame marche pour le plaisir"),
      4L -> ("de", "der hund ist nicht mit der katze und das haus ist von den leuten"),
      5L -> ("it", "il gatto che dorme non è un problema per il cane del vicino"),
      6L -> ("pt", "o gato dorme mais que o cão e um pássaro canta para a lua"),
      7L -> ("nl", "de kat slaapt niet in het huis en een hond is met de kinderen"),
      8L -> ("sv", "det är en katt och en hund som inte sover för de leker med han"),
      9L -> ("pl", "to jest kot i pies w domu ale nie na dworze jak po deszczu"),
      10L -> ("zh", "这 是 我 的 猫 和 他 的 狗 在 大 房 子 里 人 不 多"))
    val df = fixtures.map { case (id, (_, t)) => (id, t) }.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.langScores(df)
      .select("doc_id", "best_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    fixtures.foreach { case (id, (lang, _)) =>
      assert(got(id) == lang, s"doc $id expected $lang got ${got(id)}")
    }
  }

  test("t06 repetition metrics on docs with known structure") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // pure loop: all fracs maximal
      (2L, "w1 w2 w3 w4"),      // fully diverse: zero duplicate mass
      (3L, "x"),                // single token: bigram fracs defined 0
      (4L, "b c b c b c")       // phrase loop: top bigram "b c" 3 of 5
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionMetrics(spark, docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
         r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(got(1L) == ((4L, 1.0, 0.75, 3L, 1.0, 0.666667)))
    assert(got(2L) == ((4L, 0.25, 0.0, 3L, 0.333333, 0.0)))
    assert(got(3L) == ((1L, 1.0, 0.0, 0L, 0.0, 0.0)))
    assert(got(4L) == ((6L, 0.5, 0.666667, 5L, 0.6, 0.6)))
  }

  test("GramStats projection equals the aggregate form on the real corpus") {
    // The shuffle-free t06 (native per-row hash pass) must reproduce the
    // relational explode → double-aggregate form value-for-value — on
    // real documents, not just fixtures (row order canonicalized).
    // Null text included deliberately: the aggregate form drops the doc
    // (explode emits nothing), and the projection form must agree rather
    // than null-propagate a row of null metrics.
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, null: String), (-2L, "a b a"))
        .toDF("doc_id", "text"))
    val a = graft.operators.TextAnalysis.repetitionMetrics(spark, docs)
      .orderBy("doc_id").collect().toSeq
    val b = graft.operators.TextAnalysis.repetitionMetricsAgg(spark, docs)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    assert(!a.exists(_.getLong(0) == -1L)) // null-text doc dropped by both
  }

  test("t07 quality rules each trip on their engineered doc, clean doc keeps") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 10).map(i => s"w$i").mkString(" ")),           // short only
      (2L, (Seq.fill(10)("spam") ++ (0 until 30).map(i => s"u$i")).mkString(" ")), // top 25%
      (3L, (0 until 40).map(i => s"v${i % 10}").mkString(" ")),    // TTR 0.25
      (4L, (0 until 40).map(i => s"c$i").mkString(" "))            // clean
    ).toDF("doc_id", "text")
    val out = operators.TextAnalysis.qualityFilter(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7))).toMap
    assert(out(1L) == ((true, false, false, false)))
    assert(out(2L) == ((false, true, false, false)))
    assert(out(3L) == ((false, false, true, false)))
    assert(out(4L) == ((false, false, false, true)))
  }

  test("graft_ngrams keeps every window; graft_shingles is its distinct set") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val ng = df.select(graft.functions.GraftNgrams(spark, col("text"), 2))
      .collect()(0).getSeq[String](0)
    assert(ng == Seq("a b", "b a", "a b", "b a"))
    val sh = df.select(graft.functions.GraftShingles(spark, col("text"), 2))
      .collect()(0).getSeq[String](0)
    assert(sh == ng.distinct)
  }

  test("graft_shingles rejects a bigint k outside the Int range instead of wrapping") {
    graft.functions.Natives.register(spark, "graft_shingles")
    // 2^32 + 2 wrapped to k = 2 before
    val e = intercept[IllegalArgumentException](
      spark.sql("SELECT graft_shingles('a b c', 4294967298) AS sh").collect())
    assert(e.getMessage.contains("4294967298"), e.getMessage)
  }
}
