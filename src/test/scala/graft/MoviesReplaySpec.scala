package graft

import org.apache.spark.sql.functions._
import graft.functions.Parse
import graft.operators.{NullPrune, Reshape}

/** End-to-end replay of the reference pipeline over input with the
  * reference's ACTUAL messiness — ragged wiki-movie JSON records
  * (challenge.py:34-174's shapes: alternate-title language keys, mixed
  * money/date/runtime string forms, missing director/imdb keys, a TV
  * series, a duplicate imdb id, an almost-always-absent column) — using
  * only cataloged library operators: raggedToMap/altTitle (q20), regex
  * id extract (q06), keep-first dedup (q05), parseDollars/parseMultiDate/
  * parseRuntime (q07/q08/q18), NullPrune (q09), suffixJoin + fill-missing
  * (q21/q11), and the ratings pivot + left join (q10). Every expected
  * value is hand-computed from the fixture. */
class MoviesReplaySpec extends SparkSpecBase {

  private val fixture: Seq[String] = Seq(
    // the clean record: every parser hits its primary form
    """{"url":"https://en.wikipedia.org/wiki/Alpha","imdb_link":"https://www.imdb.com/title/tt0000001/","title":"Alpha","Director":"D. One","Arabic":"alpha-ar","Box office":"$12.3 million","Budget":"$10 million","Release date":"September 5, 1997","Running time":"2h 15m"}""",
    // 'Directed by' spelling, billion money, slash date, bare-hour runtime
    """{"url":"https://en.wikipedia.org/wiki/Beta","imdb_link":"https://www.imdb.com/title/tt0000002/","title":"Beta","Directed by":"D. Two","Japanese":"beta-jp","Box office":"$1.2 billion","Budget":"N/A","Release date":"1997/09/05","Running time":"3 hr"}""",
    // comma money, month-year date, minutes-only runtime, no alt title
    """{"url":"https://en.wikipedia.org/wiki/Gamma","imdb_link":"https://www.imdb.com/title/tt0000003/","title":"Gamma","Director":"D. Three","Box office":"$1,234,567","Release date":"September 1997","Running time":"135 m"}""",
    // duplicate imdb id (re-release page) — dedup must keep Gamma, not this
    """{"url":"https://en.wikipedia.org/wiki/Gamma_rerelease","imdb_link":"https://www.imdb.com/title/tt0000003/","title":"Gamma (re-release)","Director":"D. Three","Release date":"1997"}""",
    // TV series: 'No. of episodes' present — the reference filters it out
    """{"url":"https://en.wikipedia.org/wiki/Show","imdb_link":"https://www.imdb.com/title/tt0000005/","title":"Show","Director":"D. Five","No. of episodes":"10","Mostly Null":"tv"}""",
    // no imdb_link — filtered out
    """{"url":"https://en.wikipedia.org/wiki/NoImdb","title":"NoImdb","Director":"D. Six","Mostly Null":"x"}""",
    // no director key of either spelling — filtered out
    """{"url":"https://en.wikipedia.org/wiki/NoDir","imdb_link":"https://www.imdb.com/title/tt0000007/","title":"NoDir"}""",
    // unparseable money/date, absent runtime, 'Also known as' alt spelling
    """{"url":"https://en.wikipedia.org/wiki/Delta","imdb_link":"https://www.imdb.com/title/tt0000008/","title":"Delta","Directed by":"D. Eight","Also known as":"delta-aka","Box office":"garbage","Release date":"bogus"}""")

  test("the composed catalog replays the reference pipeline over ragged wiki-movie JSON") {
    import spark.implicits._
    val dir = tempDir("movies_replay")
    val file = dir.resolve("wiki_movies.json")
    java.nio.file.Files.write(file,
      String.join("\n", fixture: _*).getBytes("UTF-8"))
    // Extract: schema-free ragged records as a string map (q17/q20's
    // scan shape — no inference pass, no 193-column sparse struct).
    val m = Reshape.raggedToMap(col("value"))
    val raw = spark.read.textFile(file.toString).toDF("value")
      .select(m.as("m"))

    // Record filter (challenge.py:46-49): a director key of either
    // spelling, an imdb link, and not episodic TV.
    val movies = raw.filter(
      coalesce(element_at(col("m"), "Director"),
        element_at(col("m"), "Directed by")).isNotNull &&
      element_at(col("m"), "imdb_link").isNotNull &&
      element_at(col("m"), "No. of episodes").isNull)

    // q06: imdb id extract; q20: alt-title fold over the full
    // reference key inventory; raw parser inputs carried alongside.
    val idPat = "(tt\\d{7})"
    val extracted = movies.select(
      regexp_extract(element_at(col("m"), "imdb_link"), idPat, 1).as("imdb_id"),
      element_at(col("m"), "url").as("url"),
      element_at(col("m"), "title").as("title"),
      Reshape.altTitle(col("m")).as("alt_title"),
      coalesce(element_at(col("m"), "Director"),
        element_at(col("m"), "Directed by")).as("director"),
      element_at(col("m"), "Box office").as("box_office_raw"),
      element_at(col("m"), "Budget").as("budget_raw"),
      element_at(col("m"), "Release date").as("release_raw"),
      element_at(col("m"), "Running time").as("runtime_raw"),
      element_at(col("m"), "Mostly Null").as("mostly_null"))
    assert(extracted.count() == 5) // Show/NoImdb/NoDir gone, dup still in

    // q09: the 'Mostly Null' column is non-null ONLY on filtered-out
    // records, so after the filter it prunes; every real column stays.
    val pruned = NullPrune.prune(extracted)
    assert(pruned.columns.toSeq ==
      extracted.columns.filterNot(_ == "mostly_null").toSeq)

    // q05: keep-first dedup by imdb id — min(struct(url, payload))
    // is the deterministic analog of pandas drop_duplicates order.
    val payload = struct(pruned.columns.filterNot(_ == "imdb_id").map(col): _*)
    val deduped = pruned
      .groupBy("imdb_id").agg(min(payload).as("f"))
      .select(col("imdb_id") +:
        pruned.columns.filterNot(_ == "imdb_id").map(c => col(s"f.$c")): _*)
    assert(deduped.count() == 4)

    // q07/q08/q18: the messy-string parsers over the raw columns.
    val wiki = deduped.select(
      col("imdb_id"), col("title"), col("alt_title"), col("director"),
      Parse.parseDollars(col("box_office_raw")).as("box_office"),
      Parse.parseDollars(col("budget_raw")).as("budget_wiki"),
      Parse.parseMultiDate(col("release_raw")).as("release_date"),
      Parse.parseRuntime(col("runtime_raw")).as("runtime_min"))

    // q21/q11: kaggle-shaped second source — suffix join, zero counts
    // as missing, prefer kaggle where it has a real value.
    val kaggle = Seq(
      ("tt0000001", 0.0),        // zero -> missing -> wiki wins
      ("tt0000002", 9.0e8),      // kaggle fills wiki's unparseable N/A
      ("tt0000003", 5.0e6)       // kaggle overrides wiki's absent budget
    ).toDF("imdb_id", "budget_kaggle")
    val merged = Reshape.suffixJoin(wiki, kaggle, "imdb_id", "_wiki", "_kaggle",
        how = "left")
      .withColumn("budget",
        coalesce(nullif(col("budget_kaggle"), lit(0.0)), col("budget_wiki")))

    // q10: ratings histogram — groupBy count, pivot, fill 0, left join.
    val ratings = Seq(
      ("tt0000001", 5), ("tt0000001", 5), ("tt0000001", 4),
      ("tt0000002", 3), ("tt0000003", 4), ("tt0000003", 4)
    ).toDF("imdb_id", "rating")
    val hist = ratings.groupBy("imdb_id").pivot("rating", Seq(3, 4, 5))
      .agg(count(lit(1))).na.fill(0)
      .select(col("imdb_id"), col("3").as("r3"), col("4").as("r4"),
        col("5").as("r5"))
    val out = merged.join(hist, Seq("imdb_id"), "left")
      .na.fill(0L, Seq("r3", "r4", "r5"))

    val got = out.collect().map(r => r.getAs[String]("imdb_id") -> r).toMap
    assert(got.keySet ==
      Set("tt0000001", "tt0000002", "tt0000003", "tt0000008"))

    val a = got("tt0000001")
    assert(a.getAs[String]("title") == "Alpha")
    assert(a.getAs[String]("alt_title") == "alpha-ar")
    assert(a.getAs[Double]("box_office") == 1.23e7)
    assert(a.getAs[Double]("budget") == 1.0e7) // kaggle zero fell back
    assert(a.getAs[java.sql.Date]("release_date").toString == "1997-09-05")
    assert(a.getAs[Long]("runtime_min") == 135L)
    assert((a.getAs[Long]("r3"), a.getAs[Long]("r4"), a.getAs[Long]("r5"))
      == ((0L, 1L, 2L)))

    val b = got("tt0000002")
    assert(b.getAs[String]("alt_title") == "beta-jp")
    assert(b.getAs[Double]("box_office") == 1.2e9)
    assert(b.getAs[Double]("budget") == 9.0e8) // kaggle filled N/A
    assert(b.getAs[java.sql.Date]("release_date").toString == "1997-09-05")
    assert(b.getAs[Long]("runtime_min") == 180L)
    assert(b.getAs[Long]("r3") == 1L)

    val c = got("tt0000003")
    assert(c.getAs[String]("title") == "Gamma") // keep-first beat re-release
    assert(c.getAs[String]("alt_title") == null)
    assert(c.getAs[Double]("box_office") == 1234567.0)
    assert(c.getAs[Double]("budget") == 5.0e6)
    assert(c.getAs[java.sql.Date]("release_date").toString == "1997-09-01")
    assert(c.getAs[Long]("runtime_min") == 135L)
    assert(c.getAs[Long]("r4") == 2L)

    val e = got("tt0000008")
    assert(e.getAs[String]("alt_title") == "delta-aka")
    assert(e.isNullAt(e.fieldIndex("box_office"))) // 'garbage' coerced null
    assert(e.isNullAt(e.fieldIndex("budget")))     // absent in both sources
    assert(e.isNullAt(e.fieldIndex("release_date")))
    assert(e.isNullAt(e.fieldIndex("runtime_min")))
    assert((e.getAs[Long]("r3"), e.getAs[Long]("r4"), e.getAs[Long]("r5"))
      == ((0L, 0L, 0L)))
  }
}
