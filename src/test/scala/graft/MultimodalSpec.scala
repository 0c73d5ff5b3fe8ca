package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal.HeaderDecode
import MediaFixtures._

/** Byte-level semantics of the container-header decoder, independent of
  * the payload generator (hand-assembled arrays, not the generation
  * expressions — a generator bug can't self-certify). */
class MultimodalSpec extends SparkSpecBase {

  test("PNG IHDR decode: signature check + big-endian dims") {
    assert(HeaderDecode.decode(pngIhdr) == ((640L, 480L, "png")))
  }

  test("JPEG SOF decode walks variable-length segments before the frame header") {
    // offsets differ from the generator's fixed layout, so a
    // fixed-offset cheat would fail here
    assert(HeaderDecode.decode(jpegSof2) == ((1920L, 1080L, "jpeg")))
  }

  test("non-media bytes fall through to unknown, not an exception") {
    assert(HeaderDecode.decode("plain text".getBytes("UTF-8"))._3 == "unknown")
    assert(HeaderDecode.decode(Array[Byte]())._3 == "unknown")
    // JPEG SOI but truncated before any SOF
    assert(HeaderDecode.decode(hexBytes("FFD8FFFE"))._3 == "unknown")
  }

  test("PNG chunk walk: every chunk surfaced with type, length, byte-sum") {
    import graft.operators.Multimodal.SegmentWalk
    val segs = SegmentWalk.walk(pngChunks)
    assert(segs.map(_._1) == Seq("IHDR", "tEXt", "IEND"))
    assert(segs(0)._4 && !segs(1)._4) // IHDR is the keyframe segment
    assert(segs(1) == (("tEXt", 3L, 6L, false))) // 1+2+3
  }

  test("JPEG segment walk handles standalone markers and stops at EOI") {
    import graft.operators.Multimodal.SegmentWalk
    val segs = SegmentWalk.walk(jpegSof0)
    assert(segs.map(_._1) == Seq("COM", "SOF0", "EOI"))
    assert(segs(0) == (("COM", 2L, 21L, false)))   // 0x0A + 0x0B
    assert(segs(1)._4)                             // SOF is the keyframe
    assert(segs(1)._3 == 8L + 9L + 7L)             // precision + dim bytes
    assert(SegmentWalk.walk("not media".getBytes("UTF-8")).isEmpty)
  }

  test("m01 payloads round-trip: decoded dims equal the generation rule") {
    val out = Queries.production("m01_multimodal_meta")(spark, sf001)
    val bad = out.filter(
      col("width") =!= (lit(64) + col("doc_id") % 1920) ||
      col("format").isin("unknown")).count()
    assert(bad == 0)
    assert(out.filter(col("format") === "png").count() > 0)
    assert(out.filter(col("format") === "jpeg").count() > 0)
  }

  test("opt-in imageio decode agrees with the header walk on the whole corpus") {
    // The per-partition handle must carry a REAL codec library: the JDK's
    // registered PNG/JPEG readers parse the same synthetic payloads (they
    // are byte-valid containers) and must report identical
    // (doc_id, n_bytes, width, height, format) rows.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    val header = rows(operators.Multimodal.m01MultimodalMeta(spark, sf001))
    val imageio = rows(operators.Multimodal.m01MultimodalMetaImageIo(spark, sf001))
    assert(header.nonEmpty)
    assert(imageio == header)
  }

  test("RIFF/WAV decode: hand-assembled PCM file, odd-size chunk padding") {
    import graft.operators.Multimodal.RiffDecode
    assert(RiffDecode.decode(wavOddList) == ((2L, 44100L, 16L, 400L, 2L, "wav")))
    assert(RiffDecode.decode("not audio at all".getBytes("UTF-8"))._6 == "unknown")
    assert(RiffDecode.decode(Array[Byte]())._6 == "unknown")
  }

  test("BMFF box walk: hand-assembled MP4, v1 mvhd, non-generator layout") {
    import graft.operators.Multimodal.BmffDecode
    // A generic box walker must land on mvhd and the stsd entry in a
    // layout unlike the generator's (MediaFixtures.mp4Moov).
    val (ftyp, moov) = (mp4Ftyp, mp4Moov)
    val mp4 = ftyp ++ moov
    assert(BmffDecode.decode(mp4) ==
      ((3840L, 2160L, "hvc1", 123456789000L / 90000L, "mp4")))
    assert(BmffDecode.decode("no ftyp here".getBytes("UTF-8"))._5 == "unknown")
    assert(BmffDecode.decode(Array[Byte]())._5 == "unknown")
    // size==0 ("extends to end of enclosing box") must consume to EOF
    // and terminate — an empty EOF-extended moov yields no metadata.
    val broken = ftyp ++ be4(0) ++ "moov".getBytes
    assert(BmffDecode.decode(broken)._3 == "unknown")
    // Legal size==0 on a trailing mdat (streamed-file layout): the walk
    // must step over it without declaring the file malformed.
    assert(BmffDecode.decode(ftyp ++ moov ++ mdatEof) ==
      ((3840L, 2160L, "hvc1", 123456789000L / 90000L, "mp4")))
    // Legal size==1 (64-bit largesize, 16-byte header) wrapping moov:
    // payload offsets shift by the wider header; fields still decode.
    assert(BmffDecode.decode(ftyp ++ moovLarge ++ mdatEof) ==
      ((3840L, 2160L, "hvc1", 123456789000L / 90000L, "mp4")))
    // size==1 with a truncated largesize is malformed, not a loop.
    assert(BmffDecode.decode(ftyp ++ be4(1) ++ "moov".getBytes)._3 == "unknown")
  }

  test("m04 payloads round-trip: decoded video fields equal the generation rule") {
    val out = Queries.production("m04_video_meta")(spark, sf001)
    assert(out.filter(col("format") =!= "mp4").count() == 0,
      "every generated payload must parse as an ISO-BMFF container")
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("n_chars"))
    val bad = out.join(docs, "doc_id").filter(
      col("width") =!= (lit(128) + col("doc_id") % 1792) ||
      col("height") =!= (lit(96) + col("n_chars") % 984) ||
      col("codec") =!= when(col("doc_id") % 2 === 0, "avc1").otherwise("hvc1") ||
      col("n_bytes") =!= (lit(443) + col("doc_id") % 32) ||
      col("duration_ms") =!=
        expr("(600 + (n_chars * 37) % 72000) * 1000 DIV (600 * (1 + doc_id % 4))"))
      .count()
    assert(bad == 0)
    assert(out.count() == docs.count())
  }

  test("m05 content dedup: md5 groups are exactly the byte-equality classes") {
    val docs = Tables.documents(spark, sf001)
    val n = docs.count()
    val m = math.max(1L, n / 2L)
    val out = Queries.production("m05_media_dedup")(spark, sf001).collect()
    // groups = distinct content keys; copies sum back to the corpus
    assert(out.length == m.toInt, s"${out.length} groups, expected $m")
    assert(out.map(_.getAs[Long]("n_copies")).sum == n)
    assert(out.forall(_.getAs[Long]("n_copies") >= (n / m)),
      "every synthesized payload must have its planted copy")
    // byte-level cross-check, independent of the grouping path: two docs
    // sharing a content key have IDENTICAL payload bytes; adjacent keys
    // differ (injectivity of the generator in ckey).
    val pay = graft.operators.Multimodal.m05Payloads(spark, sf001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(pay(0L).sameElements(pay(m)), "same ckey must mean same bytes")
    assert(!pay(0L).sameElements(pay(1L)), "different ckey must mean different bytes")
  }

  test("m03 payloads round-trip: decoded audio fields equal the generation rule") {
    val out = Queries.production("m03_audio_meta")(spark, sf001)
    assert(out.filter(col("format") =!= "wav").count() == 0,
      "every generated payload must parse as a RIFF/WAVE container")
    val bad = out.filter(
      col("channels") =!= (lit(1) + col("doc_id") % 2) ||
      col("sample_rate") =!= (lit(8000) + (col("doc_id") % 5) * 8000) ||
      col("bits_per_sample") =!= (lit(8) * (lit(1) + col("doc_id") % 3)) ||
      col("duration_ms") =!= expr("n_samples * 1000 DIV sample_rate")).count()
    assert(bad == 0)
    assert(out.count() == Tables.documents(spark, sf001).count())
  }
}
