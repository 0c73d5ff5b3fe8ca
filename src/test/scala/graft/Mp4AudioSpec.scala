package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{Mp4Frames, PcmCodec, PngCodec}

/** m12: the MP4 audio trak through real sample tables. The oracle gate
  * (m09's SQL verbatim) hash-proves container-independence on every
  * run; these fixtures pin the codec mechanics — AV round-trip at both
  * depths, sample-byte parity with the WAV container, multi-trak table
  * scoping (the video reader must not pick up the audio trak's tables
  * and vice versa), and loud failures on the unsupported shapes. */
class Mp4AudioSpec extends SparkSpecBase {

  private def sig(seed: Long, n: Int): Array[Int] =
    Array.tabulate(n)(i => (((seed * 2654435761L + i * 40503L) >>> 16) % 256 - 128).toInt)

  private def frame(id: Long): (Int, Int, Array[Byte], Array[Int]) = {
    val (w, h, px) = Multimodal.m11FramePixels(id, 0)
    (w, h, PngCodec.encode(w, h, px, 0, s"spec $id"), px)
  }

  test("AV round-trip: audioSamples(encodeAv(...)) == input at both depths") {
    for ((bits, scale) <- Seq(8 -> 1, 16 -> 1)) {
      val smp = if (bits == 16) sig(3, 131).map(_ * 256) else sig(3, 131)
      val (w, h, png, _) = frame(5L)
      val av = Mp4Frames.encodeAv(Seq(png), w, h, bits,
        if (bits == 16) smp.map(_ / 256) else smp)
      val (gotBits, got) = Mp4Frames.audioSamples(av)
      assert(gotBits == bits && got.toSeq == smp.toSeq && scale == 1)
    }
  }

  test("sample-byte parity with WAV: the mdat audio bytes ARE the data chunk bytes") {
    val smp = sig(9, 100)
    for (bits <- Seq(8, 16)) {
      val wav = PcmCodec.encode(bits, smp)
      val (w, h, png, _) = frame(2L)
      val av = Mp4Frames.encodeAv(Seq(png), w, h, bits, smp)
      val wavDecoded = PcmCodec.decode(wav)
      val avDecoded = Mp4Frames.audioSamples(av)
      assert(wavDecoded._1 == avDecoded._1 &&
        wavDecoded._2.toSeq == avDecoded._2.toSeq)
    }
  }

  test("multi-trak scoping: the video frame still extracts from an AV file") {
    val (w, h, png, px) = frame(7L)
    val av = Mp4Frames.encodeAv(Seq(png, png), w, h, 8, sig(1, 80))
    val ranges = Mp4Frames.sampleRanges(av)
    assert(ranges.length == 2)
    val (off, len) = ranges.head
    val (dw, dh, dpx) = PngCodec.decode(
      java.util.Arrays.copyOfRange(av, off, off + len))
    assert(dw == w && dh == h && dpx.toSeq == px.toSeq)
    // And the single-trak m11 files still read through the same walker.
    val single = Mp4Frames.encode(Seq(png), w, h)
    assert(Mp4Frames.sampleRanges(single).length == 1)
    intercept[RuntimeException](Mp4Frames.audioSamples(single)) // no audio trak
  }

  test("audio reader fails loudly on unsupported shapes") {
    val (w, h, png, _) = frame(4L)
    val av = Mp4Frames.encodeAv(Seq(png), w, h, 8, sig(2, 64))
    // Corrupt the audio format fourcc ('raw ' -> 'ulaw').
    val idx = {
      val needle = "raw ".getBytes("US-ASCII")
      (0 until av.length - 4).find(i => needle.indices.forall(j => av(i + j) == needle(j))).get
    }
    val bad = av.clone()
    "ulaw".getBytes("US-ASCII").zipWithIndex.foreach { case (b, j) => bad(idx + j) = b }
    intercept[RuntimeException](Mp4Frames.audioSamples(bad))
    intercept[IllegalArgumentException](Mp4Frames.audioSamples("junkjunkjunk".getBytes))
  }

  test("encode and encodeAv output is byte-stable (pinned digests)") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    val (w, h, png5, _) = frame(5L)
    val (_, _, png7, _) = frame(7L)
    val frames = Seq(png5, png7, png5)
    assert(sha(Mp4Frames.encode(frames, w, h)) ==
      "4d7cc40d8f631bea8088912911602be93e6a9eefec8ce9dfacca653e2caa91d8")
    assert(sha(Mp4Frames.encodeAv(frames, w, h, 8, sig(1, 80))) ==
      "9412ace6907a36f48f856b657604427f1557bf7359d85467150a0befac393cda")
    assert(sha(Mp4Frames.encodeAv(frames, w, h, 16, sig(2, 33))) ==
      "8b234c1dffa8dca4cb5fdce08f0fb037a83a4a1391ed7c84dd3f6144e7deb0eb")
  }

  test("m12 == m09 on real data: the audio trak path equals the WAV path") {
    val d = sf001
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaMp4 = pairs(Multimodal.m12Mp4AudioDedup(spark, d))
    val viaWav = pairs(Multimodal.m09AudioDedup(spark, d))
    assert(viaMp4 == viaWav && viaMp4.nonEmpty)
  }
}
