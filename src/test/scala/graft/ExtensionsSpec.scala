package graft

import org.apache.spark.sql.{Row, SparkSession}
import graft.functions.Natives

/** The SparkSessionExtensions registration path: a session built with
  * graft.GraftExtensions can call every native function from SQL. */
class ExtensionsSpec extends SparkSpecBase {

  test("GraftExtensions injects all native functions for SQL users") {
    val prev = spark // keep the shared session alive for other suites
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .withExtensions(new GraftExtensions()).getOrCreate()
    def one(sql: String): Row = s2.sql(sql).collect()(0)
    try {
      // one SQL call per registry entry, checked against a known answer
      val calls: Map[String, () => Unit] = Map(
        "graft_cosine" -> { () =>
          val c = one(
            """SELECT graft_cosine(array(cast(3.0 as float), cast(0.0 as float)),
              |                    array(cast(3.0 as float), cast(0.0 as float))) AS c
              |""".stripMargin).getDouble(0)
          assert(math.abs(c - 1.0) < 1e-12)
        },
        "graft_shingles" -> { () =>
          assert(one("SELECT graft_shingles('a b c d', 3) AS sh").getSeq[String](0) ==
            Seq("a b c", "b c d"))
        },
        "graft_rhp_bucket" -> { () =>
          assert(one(
            """SELECT graft_rhp_bucket(array(cast(1.0 as float)), 2, 1, 1000) AS b
              |""".stripMargin).getLong(0) >= 0L)
        },
        "graft_topk" -> { () =>
          val top = one(
            """SELECT graft_topk(struct(cast(v as double), cast(v as bigint)), 2) AS t
              |FROM VALUES (1), (5), (3), (4) AS tab(v)
              |""".stripMargin).getSeq[Row](0)
          assert(top.map(_.getLong(1)) == Seq(5L, 4L))
        },
        "graft_topk_long" -> { () =>
          val top = one(
            """SELECT graft_topk_long(struct(cast(v as bigint), cast(-v as bigint)), 2) AS t
              |FROM VALUES (1), (5), (3), (4) AS tab(v)
              |""".stripMargin).getSeq[Row](0)
          assert(top.map(_.getLong(1)) == Seq(-5L, -4L))
        },
        "graft_topk_terms" -> { () =>
          val top = one(
            """SELECT graft_topk_terms(struct(cast(v as bigint), t,
              |                               cast(1 as bigint), cast(1 as bigint)), 1) AS t
              |FROM VALUES (1, 'a'), (7, 'b'), (3, 'c') AS tab(v, t)
              |""".stripMargin).getSeq[Row](0)
          assert(top.map(_.getString(0)) == Seq("b"))
        },
        "graft_ngrams" -> { () =>
          assert(one("SELECT graft_ngrams('a b a b', 2) AS g").getSeq[String](0) ==
            Seq("a b", "b a", "a b"))
        },
        "graft_gram_stats" -> { () =>
          val gs = one("SELECT graft_gram_stats('a b a b', 2) AS s").getStruct(0)
          assert((gs.getLong(0), gs.getLong(1), gs.getLong(2)) == ((3L, 2L, 2L)))
        },
        "graft_mink" -> { () =>
          assert(one(
            """SELECT graft_mink(cast(v as bigint), 2) AS m
              |FROM VALUES (5), (1), (3) AS tab(v)
              |""".stripMargin).getSeq[Long](0) == Seq(1L, 3L))
        },
        "graft_mink_pairs" -> { () =>
          val m = one(
            """SELECT graft_mink_pairs(struct(cast(k as bigint), cast(i as bigint)), 2) AS m
              |FROM VALUES (2, 9), (1, 8), (1, 7) AS tab(k, i)
              |""".stripMargin).getSeq[Row](0)
          assert(m.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 7L), (1L, 8L)))
        },
        "graft_mmr" -> { () =>
          // first pick = relevance argmax; then rel − sim to the picked one
          val sel = one(
            """SELECT graft_mmr(
              |  array(struct(cast(1 as bigint), cast(100 as bigint)),
              |        struct(cast(2 as bigint), cast(90 as bigint))),
              |  array(struct(cast(1 as bigint), cast(2 as bigint), cast(50 as bigint))),
              |  2) AS s
              |""".stripMargin).getSeq[Row](0)
          assert(sel.map(_.getLong(0)) == Seq(1L, 2L))
        },
        "graft_minhash_sig" -> { () =>
          val sig = one("SELECT graft_minhash_sig(array('a b', 'b c'), 4) AS s")
            .getSeq[Long](0)
          val again = one("SELECT graft_minhash_sig(array('b c', 'a b'), 4) AS s")
            .getSeq[Long](0)
          assert(sig.length == 4 && sig == again)
        })
      assert(calls.keySet == Natives.all.map(_.name).toSet)
      calls.values.foreach(_())
    } finally {
      // do NOT stop s2 — it shares the JVM's SparkContext with the other
      // suites; just restore the shared session handles
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}
