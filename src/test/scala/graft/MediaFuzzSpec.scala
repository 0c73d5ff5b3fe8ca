package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ExecutorService, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import graft.operators.MalformedMedia
import graft.operators.Multimodal._

/** Every media decoder against mutated payloads: each truncation, each
  * single-byte flip (payloads up to 4 KB), and each length/size field
  * the container walkers read overwritten with edge values. Metadata
  * decoders must return normally; content decoders must return normally
  * or throw [[MalformedMedia]]. Any other throwable — or a call that
  * misses its 2 s deadline — is a failure naming the decoder, the
  * payload and the mutation. */
class MediaFuzzSpec extends SparkSpecBase {
  import MediaFixtures._

  private val Deadline = 2L // seconds per decoder call
  private val FlipLimit = 4096
  private val FieldValues =
    Seq(0L, 1L, 7L, 8L, 0x7fffffffL, 0x80000000L, 0xfffffff8L, 0xfffffff4L)

  // ---- payloads: a few rows of each public payload frame + fixtures ----

  private def rows(name: String, df: DataFrame, n: Int): Seq[(String, Array[Byte])] =
    df.orderBy("doc_id").limit(n).collect().toSeq
      .map(r => s"$name doc ${r.getLong(0)}" -> r.getAs[Array[Byte]]("payload"))

  private lazy val payloads: Seq[(String, Array[Byte])] = Seq(
    rows("m04", m04Payloads(spark, sf001), 2),
    rows("m06", m06Payloads(spark, sf001), 4), // 2 PNG + 2 JPEG
    rows("m07", m07Payloads(spark, sf001), 3),
    rows("m09", m09Payloads(spark, sf001), 3),
    rows("m11", m11Payloads(spark, sf001), 2),
    rows("m12", m12Payloads(spark, sf001), 2),
    Seq("fixture pngChunks" -> pngChunks, "fixture jpegSof2" -> jpegSof2,
      "fixture jpegSof0" -> jpegSof0, "fixture wavOddList" -> wavOddList,
      "fixture mp4" -> (mp4Ftyp ++ mp4Moov ++ mdatEof),
      "fixture mp4 largesize" -> (mp4Ftyp ++ moovLarge))
  ).flatten

  // ---- where the length/size fields sit in a well-formed payload ----

  /** A field: offset, width in bytes, little-endian?, and the PNG chunk
    * (header offset) whose CRC must be re-sealed after writing it. */
  private case class Field(at: Int, width: Int, le: Boolean = false,
                           crcChunk: Option[Int] = None)

  private def be(b: Array[Byte], i: Int, n: Int): Long =
    (0 until n).foldLeft(0L)((v, k) => (v << 8) | (b(i + k) & 0xffL))
  private def tag(b: Array[Byte], i: Int) = new String(b, i, 4, "US-ASCII")
  private def isPng(b: Array[Byte]) = b.length > 8 &&
    b.take(8).sameElements(hexBytes("89504E470D0A1A0A"))

  /** Box-payload offsets of the count/size/offset fields the MP4 table
    * readers use. */
  private val BmffTableFields =
    Map("stsd" -> Seq(8), "stsz" -> Seq(4, 8), "stco" -> Seq(4, 8))

  private def sizeFields(b: Array[Byte]): Seq[Field] = {
    val out = Seq.newBuilder[Field]
    val n = b.length
    if (isPng(b)) {
      var i = 8
      while (i + 12 <= n) {
        val len = be(b, i, 4).toInt
        out += Field(i, 4)
        // IHDR width/height size the pixel buffers: CRC re-sealed so the
        // forged dims reach the decoder
        if (tag(b, i + 4) == "IHDR")
          out ++= Seq(Field(i + 8, 4, crcChunk = Some(i)), Field(i + 12, 4, crcChunk = Some(i)))
        i += 12 + len
      }
    } else if (n > 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      var eoi = false
      while (!eoi && i + 4 <= n && (b(i) & 0xff) == 0xff) {
        val m = b(i + 1) & 0xff
        if (m == 0xd9) eoi = true
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else { out += Field(i + 2, 2); i += 2 + be(b, i + 2, 2).toInt }
      }
    } else if (n >= 12 && tag(b, 0) == "RIFF") {
      var i = 12
      while (i + 8 <= n) {
        out += Field(i + 4, 4, le = true)
        val size = java.lang.Integer.reverseBytes(be(b, i + 4, 4).toInt)
        i += 8 + size + (size & 1)
      }
    } else if (n >= 12 && tag(b, 4) == "ftyp") {
      def walk(from: Int, to: Int): Unit = {
        var i = from
        while (i + 8 <= to) {
          val size32 = be(b, i, 4)
          out += Field(i, 4)
          val hdr = if (size32 == 1) 16 else 8
          if (size32 == 1) out += Field(i + 8, 8)
          val end =
            if (size32 == 0) to else if (size32 == 1) i + be(b, i + 8, 8).toInt else i + size32.toInt
          val typ = tag(b, i + 4)
          if (Set("moov", "trak", "mdia", "minf", "stbl")(typ)) walk(i + hdr, end)
          BmffTableFields.getOrElse(typ, Nil).foreach(off => out += Field(i + hdr + off, 4))
          i = end
        }
      }
      walk(0, n)
    }
    out.result()
  }

  // ---- mutations ----

  private def reseal(b: Array[Byte], chunk: Int): Unit = {
    val len = be(b, chunk, 4).toInt
    val crc = new java.util.zip.CRC32
    crc.update(b, chunk + 4, 4 + len)
    val v = crc.getValue
    for (k <- 0 until 4) b(chunk + 8 + len + k) = (v >> (8 * (3 - k))).toByte
  }

  /** The PNG chunk (header offset) whose type+data bytes hold `i`. */
  private def pngChunkOf(b: Array[Byte], i: Int): Option[Int] =
    sizeFields(b).collectFirst {
      case f if f.width == 4 && f.crcChunk.isEmpty && i >= f.at + 4 &&
        i < f.at + 8 + be(b, f.at, 4).toInt => f.at
    }

  /** (mutation name, mutated bytes), built lazily. */
  private def mutations(b: Array[Byte]): Iterator[(String, () => Array[Byte])] = {
    val truncations = (0 until b.length).iterator.map(n => s"truncate to $n" -> (() => b.take(n)))
    val flips =
      if (b.length > FlipLimit) Iterator.empty
      else (0 until b.length).iterator.flatMap { i =>
        def flip = { val m = b.clone(); m(i) = (m(i) ^ 0xff).toByte; m }
        // a flip in PNG chunk data also comes CRC-re-sealed, so it gets
        // past the checksum to the inflater and the unfilter
        val resealed = if (isPng(b)) pngChunkOf(b, i).map(c =>
          s"flip byte $i, CRC re-sealed" -> (() => { val m = flip; reseal(m, c); m }))
        else None
        Iterator(s"flip byte $i" -> (() => flip)) ++ resealed
      }
    val fields = sizeFields(b).iterator.flatMap { f =>
      FieldValues.map(v => f.width match {
        case 2 => v & 0xffffL
        case _ => v
      }).distinct.map { v =>
        s"${f.width}-byte field at ${f.at} = 0x${v.toHexString}" -> (() => {
          val m = b.clone()
          for (k <- 0 until f.width)
            m(f.at + k) = (v >> (8 * (if (f.le) k else f.width - 1 - k))).toByte
          f.crcChunk.foreach(reseal(m, _))
          m
        })
      }
    }
    truncations ++ flips ++ fields
  }

  // ---- one worker thread per call, with a deadline ----

  private sealed trait Outcome
  private case class Returned(value: Any) extends Outcome
  private case class Threw(e: Throwable) extends Outcome
  private case object MissedDeadline extends Outcome

  private final class Worker {
    private val thread = new AtomicReference[Thread]()
    private val pool: ExecutorService = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "media-fuzz")
      t.setDaemon(true)
      thread.set(t)
      t
    }
    def run(f: () => Any): Outcome = {
      val fut = pool.submit(new Callable[Any] { def call(): Any = f() })
      try Returned(fut.get(Deadline, TimeUnit.SECONDS))
      catch {
        case e: ExecutionException => Threw(e.getCause)
        case _: TimeoutException =>
          pool.shutdownNow()
          // the only way to end a decoder spinning in a loop
          (thread.get.stop(): @annotation.nowarn)
          MissedDeadline
      }
    }
    def close(): Unit = pool.shutdownNow()
  }

  private def fuzz(decoder: String, strict: Boolean)(f: Array[Byte] => Any): Unit = {
    val failures = Seq.newBuilder[String]
    var nFail, nCalls, nDeadlines = 0
    var worker = new Worker
    try {
      for ((payload, b) <- payloads; (mutation, bytes) <- mutations(b)
           if nDeadlines < 3) {
        val input = bytes()
        nCalls += 1
        val bad = worker.run(() => f(input)) match {
          case Returned(_) => None
          case Threw(_: MalformedMedia) if strict => None
          case Threw(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
          case MissedDeadline =>
            nDeadlines += 1
            worker = new Worker
            Some(s"missed the ${Deadline} s deadline")
        }
        bad.foreach { why =>
          nFail += 1
          if (nFail <= 20) failures += s"$decoder on $payload, $mutation: $why"
        }
      }
    } finally worker.close()
    info(s"$nCalls calls over ${payloads.size} payloads")
    val report = failures.result()
    assert(report.isEmpty, s"$nFail of $nCalls calls failed" +
      (if (nDeadlines >= 3) " (stopped after 3 missed deadlines)" else "") +
      report.mkString(":\n", "\n", ""))
  }

  test("every payload source decodes cleanly before mutation") {
    for ((name, b) <- payloads) {
      if (name.startsWith("m07")) PngCodec.decode(b)
      if (name.startsWith("m09")) PcmCodec.decode(b)
      if (name.startsWith("m11")) Mp4Frames.sampleRanges(b)
      if (name.startsWith("m12")) Mp4Frames.audioSamples(b)
      if (Seq("m04", "m11", "m12").exists(name.startsWith))
        assert(BmffDecode.decode(b)._5 == "mp4", name)
    }
    assert(payloads.count(_._1.startsWith("m06")) == 4)
    for ((name, b) <- payloads) assert(sizeFields(b).nonEmpty, name)
  }

  test("a forged nest of 100k container boxes ends without exhausting the stack") {
    val n = 100000
    val nest = new Array[Byte](8 * n)
    for (k <- 0 until n) {
      System.arraycopy(be4(8L * (n - k)), 0, nest, 8 * k, 4)
      System.arraycopy("moov".getBytes("US-ASCII"), 0, nest, 8 * k + 4, 4)
    }
    val mp4 = mp4Ftyp ++ nest
    val worker = new Worker // a stack overflow must not abort the suite
    try {
      assert(worker.run(() => BmffDecode.decode(mp4)) ==
        Returned((0L, 0L, "unknown", 0L, "mp4")))
      val strict = worker.run(() => Mp4Frames.trakInfos(mp4))
      assert(PartialFunction.cond(strict) { case Threw(_: MalformedMedia) => true }, strict)
    } finally worker.close()
  }

  private val permissive: Seq[(String, Array[Byte] => Any)] = Seq(
    "HeaderDecode.decode" -> (HeaderDecode.decode(_)),
    "SegmentWalk.walk" -> (SegmentWalk.walk(_)),
    "MetaValueWalk.extract" -> (MetaValueWalk.extract(0L, _)),
    "RiffDecode.decode" -> (RiffDecode.decode(_)),
    "BmffDecode.decode" -> (BmffDecode.decode(_)))

  private val strict: Seq[(String, Array[Byte] => Any)] = Seq(
    "PngCodec.decode" -> (PngCodec.decode(_)),
    "PcmCodec.decode" -> (PcmCodec.decode(_)),
    "Mp4Frames.trakInfos" -> (Mp4Frames.trakInfos(_)),
    "Mp4Frames.sampleRanges" -> (Mp4Frames.sampleRanges(_)),
    "Mp4Frames.audioSamples" -> (Mp4Frames.audioSamples(_)))

  for ((name, f) <- permissive)
    test(s"$name returns on every mutated payload") {
      fuzz(name, strict = false)(f)
    }

  for ((name, f) <- strict)
    test(s"$name returns or throws MalformedMedia on every mutated payload") {
      fuzz(name, strict = true)(f)
    }
}
