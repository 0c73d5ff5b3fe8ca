package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A row carrying an opaque binary media payload. */
case class MediaRow(doc_id: Long, payload: Array[Byte])

/** One 8-byte metadata segment's parsed content (m06's feature row):
  * ordinal among the payload's metadata segments, container marker, and
  * the big-endian value of the 8 data bytes. */
case class MetaSeg(media_id: Long, ord: Int, marker: String, value: Long)

/** Decoded (stub) media metadata. */
case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long,
                     format: String)

/** One container segment/chunk of a media payload. */
case class FrameRow(doc_id: Long, frame_no: Long, marker: String,
                    seg_len: Long, checksum: Long, is_keyframe: Boolean)

/** Decoded audio-container metadata. */
case class AudioMeta(doc_id: Long, n_bytes: Long, channels: Long,
                     sample_rate: Long, bits_per_sample: Long,
                     n_samples: Long, duration_ms: Long, format: String)

/** Decoded video-container metadata. */
case class VideoMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long,
                     codec: String, duration_ms: Long, format: String)

/** The one error every media decoder raises on bytes it cannot read: a
  * read outside its record, a negative or overflowing length, a bad
  * checksum or zlib stream, or a layout the decoder does not handle.
  * Metadata decoders (HeaderDecode, SegmentWalk, MetaValueWalk,
  * RiffDecode, BmffDecode) catch it and return what they read before the
  * bad record; content decoders (PngCodec, PcmCodec, Mp4Frames) let it
  * propagate. */
final class MalformedMedia(msg: String) extends IllegalArgumentException(msg)

object MalformedMedia {
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new MalformedMedia(msg)
}

/** Multimodal column handling (SURVEY §2.E): media as opaque `binary`
  * columns + typed decode metadata.
  *
  * The Spark-side plumbing is real — binary column, case-class Encoders,
  * per-partition imperative decode via mapPartitions (the shape a real
  * codec integration needs: the decoder is driven once per partition, so
  * a native library handle could be initialized per-partition, not
  * per-row). The payloads are REAL byte-valid PNG/JPEG container files
  * (PNG signature + IHDR/tEXt/IEND chunks; JFIF APP0 + COM segments +
  * SOF0, synthesized deterministically since the container ships no
  * image files); [[HeaderDecode]] is a real fixed-offset/marker-walk
  * header parser and [[SegmentWalk]] a real chunk/segment iterator —
  * both work on any actual PNG or baseline JPEG. (PIXEL decode would
  * need a codec library; everything at the container-structure level
  * is real byte parsing.)
  */
object Multimodal {

  /** Bounds-checked reads over the window [from, to) of a byte array —
    * the only way the decoders below touch payload bytes. Offsets and
    * lengths are Longs relative to the window, so a 32-bit length field
    * can neither wrap nor go negative unnoticed: any read, slice or
    * negative length outside the window throws [[MalformedMedia]]. */
  private[graft] final class ByteReader(a: Array[Byte], from: Int, to: Int) {
    def this(a: Array[Byte]) = this(a, 0, a.length)
    val length: Int = to - from
    /** Offset of this window in the underlying array. */
    def start: Int = from
    def has(off: Long, n: Long): Boolean = off >= 0 && n >= 0 && off <= length - n
    private def at(off: Long, n: Long): Int =
      if (has(off, n)) from + off.toInt
      else throw new MalformedMedia(
        s"$n-byte read at offset $off of a $length-byte record")
    private def be(off: Long, n: Int): Long = {
      val p = at(off, n); var v = 0L; var k = 0
      while (k < n) { v = (v << 8) | (a(p + k) & 0xffL); k += 1 }
      v
    }
    private def le(off: Long, n: Int): Long = {
      val p = at(off, n); var v = 0L; var k = n - 1
      while (k >= 0) { v = (v << 8) | (a(p + k) & 0xffL); k -= 1 }
      v
    }
    def u8(off: Long): Int = be(off, 1).toInt
    def be16(off: Long): Int = be(off, 2).toInt
    def be32(off: Long): Long = be(off, 4)
    def be64(off: Long): Long = be(off, 8)
    def le16(off: Long): Int = le(off, 2).toInt
    def le32(off: Long): Long = le(off, 4)
    def tag(off: Long): String = new String(a, at(off, 4), 4, "US-ASCII")
    def slice(off: Long, n: Long): ByteReader = {
      val p = at(off, n)
      new ByteReader(a, p, p + n.toInt)
    }
    def startsWith(sig: Array[Byte]): Boolean = has(0, sig.length) &&
      java.util.Arrays.equals(a, from, from + sig.length, sig, 0, sig.length)
    def sum: Long = {
      var s = 0L; var i = from
      while (i < to) { s += a(i) & 0xff; i += 1 }
      s
    }
    def crc32: Long = {
      val c = new java.util.zip.CRC32
      c.update(a, from, length)
      c.getValue
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOfRange(a, from, to)
  }

  /** One container record: its type tag (the marker name for JPEG), the
    * offset of its header in the payload array, and its data window. */
  private[graft] final case class Rec(tag: String, at: Int, body: ByteReader)

  /** One walker per container grammar. Each yields records lazily and
    * throws [[MalformedMedia]] at the first record whose header or data
    * leaves the window; every step advances by at least a header, so no
    * length field can stall a walk. */
  private[graft] object Walk {
    private def records(r: ByteReader, first: Int, more: Int => Boolean)(
        step: Int => (Rec, Long)): Iterator[Rec] = new Iterator[Rec] {
      private var i = first.toLong
      def hasNext: Boolean = i < r.length && more(i.toInt)
      def next(): Rec = { val (rec, n) = step(i.toInt); i += n; rec }
    }
    private def rec(r: ByteReader, tag: String, i: Int, off: Long, n: Long): Rec =
      if (r.has(off, n)) Rec(tag, r.start + i, r.slice(off, n))
      else throw new MalformedMedia(s"'$tag' record at byte ${r.start + i} " +
        s"declares $n data bytes; ${r.length - off} remain")

    val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def isPng(r: ByteReader): Boolean = r.startsWith(PngSig)
    def isJpeg(r: ByteReader): Boolean = r.has(0, 2) && r.be16(0) == 0xffd8

    /** PNG chunks after the signature: len(4) type(4) data(len) crc(4). */
    def png(r: ByteReader): Iterator[Rec] = records(r, 8, _ => true) { i =>
      val len = r.be32(i)
      val chunk = rec(r, r.tag(i + 4), i, i + 8, len)
      r.be32(i + 8 + len) // the CRC must be inside the window too
      (chunk, 12 + len)
    }

    private def jpegMarkerName(m: Int): String = m match {
      case 0xe0 => "APP0"
      case 0xfe => "COM"
      case 0xc0 => "SOF0"
      case 0xc2 => "SOF2"
      case 0xda => "SOS"
      case 0xd9 => "EOI"
      case x => f"M$x%02X"
    }
    /** Start-of-frame markers: C0 baseline, C1 extended, C2 progressive. */
    val JpegSof: Set[String] = Set(0xc0, 0xc1, 0xc2).map(jpegMarkerName)

    /** JPEG marker segments after SOI: FF mm [len(2) data(len − 2)]. EOI,
      * TEM and RSTn stand alone; EOI ends the walk, and so does a byte
      * that is not a marker (the entropy-coded data after SOS). */
    def jpeg(r: ByteReader): Iterator[Rec] =
      records(r, 2, i => r.u8(i) == 0xff) { i =>
        val m = r.u8(i + 1)
        val name = jpegMarkerName(m)
        if (m == 0xd9) (rec(r, name, i, i + 2, 0), r.length - i)
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) (rec(r, name, i, i + 2, 0), 2)
        else {
          val len = r.be16(i + 2)
          (rec(r, name, i, i + 4, len - 2), 2 + len)
        }
      }

    /** RIFF chunks after the RIFF/WAVE header: id(4) size(4le)
      * data(size), odd sizes padded to even (a missing pad at EOF ends
      * the walk). */
    def riff(r: ByteReader): Iterator[Rec] = records(r, 12, _ => true) { i =>
      val size = r.le32(i + 4)
      (rec(r, r.tag(i), i, i + 8, size), 8 + size + (size & 1))
    }

    /** ISO-BMFF boxes: size(4) type(4) [largesize(8)] data. Size 0 runs
      * to the end of the window (streamed-file mdat), size 1 takes the
      * 64-bit largesize after the type; a tail under 8 bytes holds no
      * box. */
    def bmff(r: ByteReader): Iterator[Rec] =
      records(r, 0, i => r.length - i >= 8) { i =>
        val size32 = r.be32(i)
        val hdr = if (size32 == 1L) 16 else 8
        val size =
          if (size32 == 0L) (r.length - i).toLong
          else if (size32 == 1L) r.be64(i + 8)
          else size32
        (rec(r, r.tag(i + 4), i, i + hdr, size - hdr), size)
      }

    private val BmffContainers = Set("moov", "trak", "mdia", "minf", "stbl")

    /** Every box in depth-first order, descending the container boxes
      * (moov → trak → mdia → minf → stbl) at most five levels deep, so a
      * forged nest of containers cannot exhaust the stack. */
    def bmffTree(r: ByteReader, depth: Int = 0): Iterator[Rec] =
      bmff(r).flatMap(b => Iterator.single(b) ++
        (if (depth < 5 && BmffContainers(b.tag)) bmffTree(b.body, depth + 1)
         else Iterator.empty))
  }

  /** Metadata decoders are permissive: a [[MalformedMedia]] ends the
    * read and `partial` — what was read before the bad record — is the
    * result. */
  private def permissive[T](partial: => T)(read: => T): T =
    try read catch { case _: MalformedMedia => partial }

  import MalformedMedia.check

  /** Real container-header decoders: PNG signature + IHDR big-endian
    * dimensions; JPEG segment walk to the first SOF0/1/2 frame header.
    * Pure byte arithmetic — no codec library — so it runs anywhere and
    * is exactly what "extract image metadata without decoding pixels"
    * does in production pipelines. */
  object HeaderDecode {
    private val Unknown = (0L, 0L, "unknown")

    /** (width, height, format); (0, 0, "unknown") when neither container
      * matches — the permissive posture, bad payloads surface in an
      * audit column instead of killing the job. */
    def decode(b: Array[Byte]): (Long, Long, String) = {
      val r = new ByteReader(b)
      if (Walk.isPng(r)) permissive(Unknown) {
        // IHDR is mandatory-first: width(4) height(4) ...
        Walk.png(r).take(1).collectFirst { case c if c.tag == "IHDR" =>
          (c.body.be32(0), c.body.be32(4), "png")
        }.getOrElse(Unknown)
      } else if (Walk.isJpeg(r)) permissive(Unknown) {
        // the first start-of-frame payload is precision(1) height(2) width(2)
        Walk.jpeg(r).collectFirst { case s if Walk.JpegSof(s.tag) =>
          (s.body.be16(3).toLong, s.body.be16(1).toLong, "jpeg")
        }.getOrElse(Unknown)
      } else Unknown
    }
  }

  /** Real container-structure iteration: one row per PNG chunk or JPEG
    * marker segment — (marker, payload length, byte-sum checksum). This
    * is the metadata/structure pass a media pipeline runs before any
    * pixel decode (find EXIF, count frames, locate SOF): pure byte
    * arithmetic over any actual PNG or baseline JPEG. */
  object SegmentWalk {
    /** (marker, segLen, checksum, isKeyframe) per segment; empty for
      * non-media bytes. */
    def walk(b: Array[Byte]): Seq[(String, Long, Long, Boolean)] = {
      val r = new ByteReader(b)
      val segs =
        if (Walk.isPng(r)) Walk.png(r).map(c => (c, c.tag == "IHDR"))
        else if (Walk.isJpeg(r)) Walk.jpeg(r).map(s => (s, Walk.JpegSof(s.tag)))
        else Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Boolean)]()
      permissive(out.toSeq) {
        for ((s, key) <- segs) out += ((s.tag, s.body.length.toLong, s.body.sum, key))
        out.toSeq
      }
    }
  }

  /** Real RIFF/WAVE container parse — the audio sibling of
    * [[HeaderDecode]]: verify the RIFF/WAVE signature, then walk the
    * chunk list collecting the PCM `fmt ` fields and the `data` chunk
    * size. Duration falls out as data_size·1000 / byte_rate (integer
    * division — deterministic, oracle-mirrorable). Works on any actual
    * PCM WAV file; no audio library, no sample decode. */
  object RiffDecode {
    /** (channels, sampleRate, bitsPerSample, dataSize, durationMs,
      * format); zeros + "unknown" for non-RIFF bytes. */
    def decode(b: Array[Byte]): (Long, Long, Long, Long, Long, String) = {
      val r = new ByteReader(b)
      if (!r.has(0, 12) || r.tag(0) != "RIFF" || r.tag(8) != "WAVE")
        return (0L, 0L, 0L, 0L, 0L, "unknown")
      var (ch, sr, bits, byteRate, dataSize) = (0L, 0L, 0L, 0L, 0L)
      def result = (ch, sr, bits, dataSize,
        if (byteRate > 0) dataSize * 1000L / byteRate else 0L, "wav")
      permissive(result) {
        Walk.riff(r).foreach { c =>
          if (c.tag == "fmt ") {
            // codec(2) channels(2) rate(4) byte_rate(4) block(2) bits(2)
            val f = c.body
            val (fc, fs, fr, fb) = (f.le16(2), f.le32(4), f.le32(8), f.le16(14))
            ch = fc; sr = fs; byteRate = fr; bits = fb
          } else if (c.tag == "data") dataSize = c.body.length
        }
        result
      }
    }
  }

  /** Real ISO-BMFF (MP4/MOV) box walk — the video sibling of
    * [[HeaderDecode]]/[[RiffDecode]]: verify the leading `ftyp` box,
    * then descend the container boxes reading the movie header
    * (`mvhd`, version 0 AND 1 layouts: timescale + duration) and the
    * first sample-description entry (`stsd`: codec fourcc + coded
    * width/height). Duration falls out as units·1000 / timescale
    * (integer division — deterministic, oracle-mirrorable). Pure byte
    * arithmetic over any actual MP4; no codec library, no sample
    * decode — exactly the structure pass a video ingest runs to shard
    * by resolution/codec before any expensive frame work. */
  object BmffDecode {
    /** (width, height, codec, durationMs, format); zeros + "unknown"
      * for non-BMFF bytes — the permissive posture of the other
      * decoders. */
    def decode(b: Array[Byte]): (Long, Long, String, Long, String) = {
      val r = new ByteReader(b)
      if (!r.has(4, 8) || r.tag(4) != "ftyp")
        return (0L, 0L, "unknown", 0L, "unknown")
      var (ts, du, w, h) = (0L, 0L, 0L, 0L)
      var codec = "unknown"
      def result = (w, h, codec, if (ts > 0) du * 1000L / ts else 0L, "mp4")
      permissive(result) {
        Walk.bmffTree(r).foreach { box =>
          val p = box.body
          if (box.tag == "mvhd") {
            // v0: ver/flags ctime4 mtime4 ts4 dur4; v1: 8-byte times.
            val (t, d) =
              if (p.u8(0) == 1) (p.be32(20), p.be64(24)) else (p.be32(12), p.be32(16))
            ts = t; du = d
          } else if (box.tag == "stsd" && codec == "unknown") {
            // ver/flags(4) entry_count(4), then the first sample
            // entry: size(4) fourcc(4) reserved(6) data_ref(2)
            // pre/rsv(16) width(2) height(2) ...
            val (c, ew, eh) = (p.tag(12), p.be16(40), p.be16(42))
            codec = c; w = ew; h = eh
          }
        }
        result
      }
    }
  }

  /** Deterministic media dimensions per document — the generation rule
    * the oracle mirrors as its ground truth. */
  private def widthColFor(idc: org.apache.spark.sql.Column) =
    (lit(64) + idc % 1920).cast("bigint")
  private def heightColFor(hc: org.apache.spark.sql.Column) =
    (lit(64) + hc % 1080).cast("bigint")
  private def widthCol = widthColFor(col("doc_id"))
  private def heightCol = heightColFor(col("n_chars"))

  /** 8-/4-/2-byte big-endian encodings of an integer column. */
  private def be8(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 16, "0"))
  private def be4(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
  private def be2(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 4, "0"))

  /** Metadata-segment payload values: 8 big-endian bytes per segment k,
    * a pure function of (doc_id, k) so the oracle can state each
    * segment's byte-sum in closed form. */
  val MetaSegments = 4
  private def segValueFor(idc: org.apache.spark.sql.Column, k: Int) =
    (idc * 4096 + lit(k)).cast("bigint")
  private def segValue(k: Int) = segValueFor(col("doc_id"), k)

  /** Synthesized payload: even doc_ids get a PNG — signature, IHDR with
    * real big-endian dims, [[MetaSegments]] tEXt chunks carrying 8 data
    * bytes each, IEND (CRC bytes are fixed filler — structure parsers
    * don't checksum). Odd doc_ids a baseline JPEG — SOI, JFIF APP0,
    * [[MetaSegments]] COM segments, SOF0 with real dims, a minimal SOS
    * scan header, EOI (strict readers require the SOS for the stream to
    * be structurally complete — javax.imageio verifies it). Byte-valid
    * container files: [[HeaderDecode]]/[[SegmentWalk]] do no
    * generation-specific shortcuts. */
  private def payloadColFor(idc: org.apache.spark.sql.Column,
                            hc: org.apache.spark.sql.Column,
                            tamper: org.apache.spark.sql.Column = lit(0L)) = {
    // `tamper` = how many TRAILING metadata segments get their value
    // bumped by 1 — the "metadata-edited re-encode" m06 plants: same
    // container, same dims, same leading segments, k > MetaSegments −
    // tamper differ. Default 0 = the byte-identical m01–m05 payload.
    def segV(k: Int) = segValueFor(idc, k) +
      when(lit(k.toLong) > lit(MetaSegments.toLong) - tamper, 1L).otherwise(0L)
    val pngChunks = (1 to MetaSegments).map(k =>
      concat(unhex(lit("0000000874455874")), be8(segV(k)), unhex(lit("AA5500FF"))))
    val jpegComs = (1 to MetaSegments).map(k =>
      concat(unhex(lit("FFFE000A")), be8(segV(k))))
    when(idc % 2 === 0,
      concat(Seq(
        unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + IHDR len/type
        be4(widthColFor(idc)), be4(heightColFor(hc)),
        unhex(lit("0806000000AA5500FF"))) ++              // depth..interlace + CRC filler
        pngChunks :+
        unhex(lit("0000000049454E44AA5500FF")): _*)       // IEND
    ).otherwise(
      concat(Seq(
        unhex(lit("FFD8FFE000104A46494600010100000100010000")) // SOI + APP0
      ) ++ jpegComs ++ Seq(
        unhex(lit("FFC0001108")), be2(heightColFor(hc)), be2(widthColFor(idc)),
        unhex(lit("03012200021101031101")),               // 3 components
        // minimal SOS (3-component scan header, no entropy data):
        // without it strict readers (javax.imageio) reject the stream
        // as structurally invalid before even reporting dimensions
        unhex(lit("FFDA000C03010002110311003F00")),
        unhex(lit("FFD9"))): _*))                         // EOI
  }

  private def payloadCol = payloadColFor(col("doc_id"), col("n_chars"))

  /** m01: attach a binary media payload and decode its metadata from the
    * container header bytes. */
  def m01MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        // A real integration opens the codec once here, then streams rows.
        it.map { r =>
          val (w, h, fmt) = HeaderDecode.decode(r.payload)
          MediaMeta(r.doc_id, r.payload.length.toLong, w, h, fmt)
        }
      }
      .toDF()
  }

  /** Real-codec decode via javax.imageio — the JDK's actual PNG/JPEG
    * readers, no synthetic shortcuts. Returns (width, height, format)
    * with the same permissive (0, 0, "unknown") posture as
    * [[HeaderDecode]]. One ImageInputStream + reader per payload,
    * disposed deterministically; `ImageIO.setUseCache(false)` is the
    * per-partition handle step (no temp-file cache on executors). */
  object ImageIoDecode {
    def decode(b: Array[Byte]): (Long, Long, String) = {
      // createImageInputStream returns null when no SPI accepts the
      // stream — guard both the use and the close, or the finally NPEs
      // past the permissive contract.
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      if (iis == null) return (0L, 0L, "unknown")
      try {
        val rs = javax.imageio.ImageIO.getImageReaders(iis)
        if (!rs.hasNext) return (0L, 0L, "unknown")
        val r = rs.next()
        try {
          r.setInput(iis, true, true)
          val fmt = r.getFormatName.toLowerCase match {
            case "jpeg" | "jpg" => "jpeg"
            case f => f
          }
          (r.getWidth(0).toLong, r.getHeight(0).toLong, fmt)
        } finally r.dispose()
      } catch { case _: Exception => (0L, 0L, "unknown") }
      finally iis.close()
    }
  }

  /** OPT-IN real-codec m01: identical plan shape to [[m01MultimodalMeta]]
    * but the decode step is [[ImageIoDecode]] (the JDK's registered
    * PNG/JPEG plugins) behind the same per-partition handle — the wiring
    * a production codec integration drops into. NOT cataloged: the
    * header walk is the production default (no codec dependency, no
    * pixel work); this variant exists to prove the handle shape carries
    * a real library, spec-compared to HeaderDecode on the synthetic
    * corpus (MultimodalSpec). */
  def m01MultimodalMetaImageIo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // once per partition
        it.map { r =>
          val (w, h, fmt) = ImageIoDecode.decode(r.payload)
          MediaMeta(r.doc_id, r.payload.length.toLong, w, h, fmt)
        }
      }
      .toDF()
  }

  /** Deterministic audio parameters per document — the generation rule
    * the m03 oracle mirrors as ground truth. n_samples is kept even so
    * the data chunk size is always even (no RIFF pad byte needed). */
  private def chCol = (lit(1) + col("doc_id") % 2).cast("bigint")
  private def srCol = (lit(8000) + (col("doc_id") % 5) * 8000).cast("bigint")
  private def bitsCol = (lit(8) * (lit(1) + col("doc_id") % 3)).cast("bigint")
  // bits is a multiple of 8, so bits/8 is an exact shift (Column `/` on
  // integers would silently produce a double).
  private def blockCol = chCol * shiftright(bitsCol, 3)
  private def nSamplesCol = (lit(2) * (lit(8) + col("n_chars") % 32)).cast("bigint")

  /** Little-endian byte encoding of an integer column, n bytes. */
  private def leN(c: org.apache.spark.sql.Column, n: Int) =
    unhex(concat((0 until n).map(k =>
      lpad(hex(shiftright(c, 8 * k).bitwiseAND(lit(255L))), 2, "0")): _*))

  /** Synthesized byte-valid PCM WAV payload: RIFF header, canonical
    * 16-byte `fmt ` chunk (PCM, real channel/rate/width fields, derived
    * byte_rate/block_align), and a `data` chunk with its actual bytes
    * (0x41 filler — structure parsers never read samples). */
  private def wavPayloadCol = {
    val dataSize = (nSamplesCol * blockCol).cast("bigint")
    val byteRate = srCol * blockCol
    concat(
      lit("RIFF").cast("binary"), leN(lit(4L + 24L + 8L) + dataSize, 4),
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"), leN(lit(16L), 4),
      leN(lit(1L), 2), leN(chCol, 2), leN(srCol, 4), leN(byteRate, 4),
      leN(blockCol, 2), leN(bitsCol, 2),
      lit("data").cast("binary"), leN(dataSize, 4),
      repeat(lit("A"), dataSize.cast("int")).cast("binary"))
  }

  /** m03: audio modality — attach a binary WAV payload and decode its
    * PCM metadata (channels, rate, sample width, duration) from the
    * container bytes via [[RiffDecode]]; same per-partition typed decode
    * shape as m01, same oracle strategy (the deterministic generation
    * rule is the independent ground truth the SQL mirror recomputes). */
  def m03AudioMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), wavPayloadCol.as("payload"))
      .as[MediaRow]
      .mapPartitions { it =>
        it.map { r =>
          val (ch, sr, bits, dataSize, dur, fmt) = RiffDecode.decode(r.payload)
          val nSamples = if (ch > 0 && bits > 0) dataSize / (ch * bits / 8) else 0L
          AudioMeta(r.doc_id, r.payload.length.toLong, ch, sr, bits,
            nSamples, dur, fmt)
        }
      }
      .toDF()
  }

  /** m02: container-segment sampling — one payload row fans out to one
    * row per PNG chunk / JPEG marker segment via a typed flatMap (the
    * row-multiplying shape a frame sampler needs), with each segment's
    * marker, length, and byte-sum checksum parsed from the actual
    * bytes by [[SegmentWalk]]. The keyframe flag marks the frame-header
    * segments (IHDR / SOF). */
  def m02FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[MediaRow]
      .flatMap { r =>
        SegmentWalk.walk(r.payload).iterator.zipWithIndex.map {
          case ((m, len, cs, kf), i) => FrameRow(r.doc_id, i.toLong, m, len, cs, kf)
        }
      }
      .toDF()
  }

  /** Deterministic video parameters per document — the generation rule
    * the m04 oracle mirrors as ground truth. Dims stay under 16 bits
    * (the sample-entry field width); duration units / timescale give a
    * non-trivial integer-division duration. */
  private def vWidthCol = (lit(128) + col("doc_id") % 1792).cast("bigint")
  private def vHeightCol = (lit(96) + col("n_chars") % 984).cast("bigint")
  private def vTimescaleCol = (lit(600) * (lit(1) + col("doc_id") % 4)).cast("bigint")
  private def vDurUnitsCol = (lit(600) + (col("n_chars") * 37) % 72000).cast("bigint")
  private def vPadCol = (lit(4) + col("doc_id") % 32).cast("bigint")

  /** Identity transform matrix of mvhd/tkhd (9 × 16.16 fixed-point). */
  private val BmffMatrixHex =
    "00010000" + "00000000" + "00000000" +
    "00000000" + "00010000" + "00000000" +
    "00000000" + "00000000" + "40000000"

  /** Synthesized byte-valid ISO-BMFF payload: `ftyp` (isom), `moov`
    * containing a version-0 `mvhd` (real timescale/duration), one
    * `trak` with `tkhd` (16.16 width/height), `mdia` → `mdhd` + `hdlr`
    * (vide) + `minf` → `stbl` → `stsd` with ONE visual sample entry
    * (avc1 for even doc_ids, hvc1 for odd; real 16-bit coded dims),
    * and an `mdat` with its declared payload bytes. Box sizes are
    * exact, so any generic box walker — [[BmffDecode]] included, with
    * no generation-specific shortcuts — parses it like a real MP4.
    * Fixed sizes: sample entry 86, stsd 102, stbl 110, minf 118,
    * hdlr 33, mdhd 32, mdia 191, tkhd 92, trak 291, mvhd 108,
    * moov 407, ftyp 24 → n_bytes = 439 + mdat data bytes. */
  private def mp4PayloadCol = {
    val ftyp = unhex(lit("00000018" + "66747970" + "69736F6D" + "00000200" +
      "69736F6D" + "69736F32"))
    val mvhd = concat(
      unhex(lit("0000006C" + "6D766864" + "00000000" +
        "00000000" + "00000000")),                     // ver/flags, ctime, mtime
      be4(vTimescaleCol), be4(vDurUnitsCol),
      unhex(lit("00010000" + "0100" + "0000" +          // rate, volume, reserved
        "0000000000000000" +                            // reserved(8)
        BmffMatrixHex +
        ("00" * 24) +                                   // pre_defined(24)
        "00000002")))                                   // next_track_ID
    val tkhd = concat(
      unhex(lit("0000005C" + "746B6864" + "00000007" +  // ver/flags (enabled)
        "00000000" + "00000000" + "00000001" + "00000000")), // times, track 1, rsv
      be4(vDurUnitsCol),
      unhex(lit("0000000000000000" +                    // reserved(8)
        "0000" + "0000" + "0000" + "0000" +             // layer, alt, volume, rsv
        BmffMatrixHex)),
      be4(shiftleft(vWidthCol, 16)), be4(shiftleft(vHeightCol, 16)))
    val mdhd = concat(
      unhex(lit("00000020" + "6D646864" + "00000000" + "00000000" + "00000000")),
      be4(vTimescaleCol), be4(vDurUnitsCol),
      unhex(lit("55C4" + "0000")))                      // language 'und'
    val hdlr = unhex(lit("00000021" + "68646C72" + "00000000" + "00000000" +
      "76696465" + "000000000000000000000000" + "00"))  // 'vide', reserved, name ""
    val sampleEntry = concat(
      unhex(lit("00000056")),
      when(col("doc_id") % 2 === 0, lit("avc1")).otherwise(lit("hvc1"))
        .cast("binary"),
      unhex(lit("000000000000" + "0001" + "0000" + "0000" +
        "000000000000000000000000")),                   // rsv, data_ref 1, pre/rsv
      be2(vWidthCol), be2(vHeightCol),
      unhex(lit("00480000" + "00480000" + "00000000" + "0001" + // 72dpi, frames 1
        ("00" * 32) +                                   // compressorname
        "0018" + "FFFF")))                              // depth 24, pre_defined
    val stsd = concat(
      unhex(lit("00000066" + "73747364" + "00000000" + "00000001")), sampleEntry)
    val stbl = concat(unhex(lit("0000006E" + "7374626C")), stsd)
    val minf = concat(unhex(lit("00000076" + "6D696E66")), stbl)
    val mdia = concat(unhex(lit("000000BF" + "6D646961")), mdhd, hdlr, minf)
    val trak = concat(unhex(lit("00000123" + "7472616B")), tkhd, mdia)
    val moov = concat(unhex(lit("00000197" + "6D6F6F76")), mvhd, trak)
    val mdat = concat(be4(lit(8L) + vPadCol), lit("mdat").cast("binary"),
      repeat(lit("A"), vPadCol.cast("int")).cast("binary"))
    concat(ftyp, moov, mdat)
  }

  /** The (doc_id, payload) frame m04 decodes — exposed for specs. */
  def m04Payloads(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), mp4PayloadCol.as("payload"))

  /** m04: video modality — attach a binary MP4 payload and decode its
    * container metadata (coded dims, codec fourcc, duration) from the
    * box structure via [[BmffDecode]]; same per-partition typed decode
    * shape as m01/m03, same oracle strategy (the deterministic
    * generation rule is the independent ground truth the SQL mirror
    * recomputes). */
  def m04VideoMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    m04Payloads(s, d)
      .as[MediaRow]
      .mapPartitions { it =>
        it.map { r =>
          val (w, h, codec, dur, fmt) = BmffDecode.decode(r.payload)
          VideoMeta(r.doc_id, r.payload.length.toLong, w, h, codec, dur, fmt)
        }
      }
      .toDF()
  }

  /** The (doc_id, payload) frame m05 dedups: payloads derive from the
    * REDUCED content key doc_id % (corpus/2), so each distinct payload
    * appears ~2× — the re-crawled/re-hosted exact-copy case every media
    * corpus carries. The key is FULLY embedded in the metadata-segment
    * bytes (be8 of ckey·4096+k), so the generator is injective in ckey
    * and content equality ⇔ key equality — the closed-form fact the
    * oracle states. The modulus folds in driver-side as a literal (the
    * scalar-per-frame rule; one count-star footer read). */
  def m05Payloads(s: SparkSession, d: String): DataFrame = {
    val m = math.max(1L, Tables.documents(s, d).count() / 2L)
    Tables.documents(s, d)
      .select(col("doc_id"),
        payloadColFor(col("doc_id") % m, col("doc_id") % m).as("payload"))
  }

  /** m05: CONTENT-ADDRESSED media dedup — d01's exact dedup for binary
    * payloads: group by (md5(payload), length), keep the minimum doc_id,
    * count the copies. The Spark side never sees the generation key; the
    * oracle recomputes the groups from the generation rule, so the gate
    * checks that content hashing recovers exactly the byte-equality
    * classes.
    *
    * Scale shape: md5 is a per-row codegen'd projection (NOT inside a
    * higher-order lambda), and the single hash-shuffle carries only
    * (16-byte digest, length) + agg state — payload bytes never
    * shuffle. That is the whole trick of content-addressed dedup at
    * 100 TB: the exchange is digest-sized regardless of media size. */
  def m05MediaDedup(s: SparkSession, d: String): DataFrame =
    m05Payloads(s, d)
      .groupBy(md5(col("payload")).as("content_md5"),
        length(col("payload")).cast("bigint").as("n_bytes"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_bytes"), col("n_copies"))

  /** Parse the 8-byte metadata segments of a payload — ordinal among
    * them, marker, and the big-endian VALUE of the 8 data bytes. The
    * m06 feature extractor: real byte walking (PNG chunk list / JPEG
    * marker list, the [[Walk]] grammars) restricted to the
    * metadata-carrier segments (tEXt / COM) whose content is exactly
    * 8 bytes. */
  object MetaValueWalk {
    def extract(id: Long, b: Array[Byte]): Seq[MetaSeg] = {
      val r = new ByteReader(b)
      val carriers =
        if (Walk.isPng(r)) Walk.png(r).filter(_.tag == "tEXt")
        else if (Walk.isJpeg(r)) Walk.jpeg(r).filter(_.tag == "COM")
        else Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer[MetaSeg]()
      permissive(out.toSeq) {
        for (c <- carriers if c.body.length == 8)
          out += MetaSeg(id, out.length + 1, c.tag, c.body.be64(0))
        out.toSeq
      }
    }
  }

  /** Keep a pair iff it shares at least this many of the
    * [[MetaSegments]] metadata segments (position + marker + content). */
  val NeardupMinShared = 3

  /** The m06 gate corpus: every document's payload plus a planted
    * "metadata-edited re-encode" under shifted ids (x12's max+1 shift
    * rule) — same container, same dims, same id-derived fields, with
    * the TRAILING 1 (even docs) or 2 (odd docs) metadata segments
    * bumped by one. Even-doc variants share 3 of 4 segments (caught at
    * the ≥3 threshold); odd-doc variants share only 2 (correctly NOT
    * flagged) — both rule directions do real work on any draw. */
  def m06Payloads(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    docs.select(col("doc_id"),
      payloadColFor(col("doc_id"), col("n_chars")).as("payload"))
      .unionByName(docs.select((col("doc_id") + shift).as("doc_id"),
        payloadColFor(col("doc_id"), col("n_chars"),
          lit(1L) + pmod(col("doc_id"), lit(2L))).as("payload")))
  }

  /** m06: NEAR-duplicate media detection by shared metadata-segment
    * content — the structural sibling of m05's exact digest dedup (a
    * re-encoded or metadata-edited copy hashes differently as a whole
    * but still shares most of its parsed segments; pixel-level
    * perceptual hashing slots into the same plan as one more feature
    * per payload once a codec is linked — the decode step is exactly
    * the stubbed-by-design boundary m01 documents). Candidates come
    * from an INVERTED INDEX on (ordinal, marker, segment content):
    * only payloads sharing a parsed segment ever meet, never
    * all-pairs; a pair is flagged iff it shares ≥ [[NeardupMinShared]]
    * of the [[MetaSegments]] metadata segments.
    *
    * Scale shape: the typed flatMap parses each payload once and emits
    * 16-byte-keyed feature rows (segment content, never payload
    * bytes, reaches the shuffle — m05's digest discipline per
    * segment); the self-join fans out only where content genuinely
    * collides (identical segment values), so output is bounded by
    * real near-dup volume. */
  def m06MediaNeardup(s: SparkSession, d: String): DataFrame =
    mediaNeardup(s, m06Payloads(s, d))

  /** [[m06MediaNeardup]] over any (doc_id, payload) frame (spec entry —
    * fixtures plant hand-built containers). */
  def mediaNeardup(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val feats = payloads.as[MediaRow]
      .flatMap(r => MetaValueWalk.extract(r.doc_id, r.payload))
      .toDF("media_id", "ord", "marker", "value")
    val a = feats.toDF("id_a", "ord", "marker", "value")
    val b = feats.toDF("id_b", "ord", "marker", "value")
    a.join(b, Seq("ord", "marker", "value"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= NeardupMinShared.toLong)
  }

  // ------------------------------------------------------------------
  // m07: perceptual near-dup over REAL decoded PNG pixels — closes the
  // pixel-decode boundary m01/m06 document. The corpus's PNGs here
  // carry actual zlib-deflated IDAT scanlines, and the decode path is
  // a real PNG reader built on JDK primitives only: chunk walk with
  // CRC32 verification, java.util.zip.Inflater, full 5-type scanline
  // unfiltering. No external codec library.
  // ------------------------------------------------------------------

  /** Seed for the per-(image, row) md5 pixel stream (the generation
    * rule the oracle mirrors, m01's convention). */
  val M07Seed = 47

  /** Pair-emission radius. With [[M07Bands]] = 4 bands over the 64-bit
    * aHash, any pair within hamming 3 shares >= 1 clean 16-bit band
    * (pigeonhole — d04's discipline, lossless at this radius). The
    * planted re-encodes sit at 0, the +3-brightness edits at <= 2
    * measured over the grammar, and unrelated images at >= 16 — the
    * threshold is far from every observed mass. */
  val M07MaxHamming = 3
  val M07Bands = 4
  private val M07ReencodeMod = 17
  private val M07EditMod = 31
  private val M07Bright = 3

  /** Imperative twin of [[graft.functions.Text.hash60]]: first 15 hex
    * digits of md5(seed:s) as a non-negative long — one md5 per image
    * ROW (<= 16 per payload), identical in the oracle's h60 grammar. */
  private def h60Local(md: java.security.MessageDigest, seed: Int,
                       s: String): Long = {
    md.reset()
    val dig = md.digest(s"$seed:$s".getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) & 0xf0L) >> 4)
  }

  /** m07 pixel grammar — a pure function of doc_id, stated in closed
    * form so the oracle derives the SAME image from the generation
    * rule:
    *  - base image id `b`: docs at doc_id % 17 == 0 (re-encode plant)
    *    or % 31 == 0 (brightness-edit plant) show doc_id − 1's image;
    *    everyone else their own.
    *  - dims w = 8 + b%9, h = 8 + (7b)%9 (8..16 — thumbnail-scale, the
    *    size perceptual hashing actually runs at in production).
    *  - row y's pixel stream: bytes of hash60(seed=47, "b:y"), cycling
    *    every 7 columns — iid across images, so unrelated images land
    *    at hamming ~32 and the pair volume is plant-bounded.
    *  - edit plants add +3 saturating brightness (pixels differ, the
    *    perceptual hash barely moves — the signal exact digests miss).
    */
  private[graft] def m07BaseId(doc: Long): Long =
    if (doc > 0 && (doc % M07ReencodeMod == 0 || doc % M07EditMod == 0)) doc - 1
    else doc
  private[graft] def m07Edited(doc: Long): Boolean =
    doc > 0 && doc % M07ReencodeMod != 0 && doc % M07EditMod == 0
  private[graft] def m07Pixels(doc: Long): (Int, Int, Array[Int]) = {
    val b = m07BaseId(doc)
    val w = (8 + b % 9).toInt
    val h = (8 + (b * 7) % 9).toInt
    val edited = m07Edited(doc)
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val r = h60Local(md, M07Seed, s"$b:$y")
      var x = 0
      while (x < w) {
        var p = ((r >> (8 * (x % 7))) & 255L).toInt
        if (edited) p = math.min(p + M07Bright, 255)
        px(y * w + x) = p
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Minimal REAL PNG codec on JDK primitives: grayscale 8-bit, any of
    * the five standard scanline filter types, real zlib (Deflater /
    * Inflater), real per-chunk CRC32 — emitted files decode in any
    * compliant reader (javax.imageio cross-checked in the spec), and
    * [[decode]] reads any grayscale-8 PNG regardless of producer. */
  object PngCodec {
    private def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      be32(data.length.toLong) ++ tb ++ data ++ be32(crc.getValue)
    }

    /** The PNG filter predictor of type `ft` from the left (a), up (b)
      * and up-left (c) neighbours. */
    private def predict(ft: Int, a: Int, b: Int, c: Int): Int = ft match {
      case 0 => 0
      case 1 => a
      case 2 => b
      case 3 => (a + b) / 2
      case 4 => // Paeth
        val p = a + b - c
        val pa = math.abs(p - a); val pb = math.abs(p - b)
        val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      case other => throw new MalformedMedia(s"unknown filter type $other")
    }

    /** Inflates exactly `n` bytes of a zlib stream (output past `n` is
      * never produced); memory grows only with what the stream really
      * holds, so a forged IHDR cannot force a huge allocation. */
    private def inflate(z: Array[Byte], n: Int): Array[Byte] = {
      val infl = new java.util.zip.Inflater()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](math.min(n, 1 << 16))
      try {
        infl.setInput(z)
        while (out.size < n && !infl.finished()) {
          val k =
            try infl.inflate(buf, 0, math.min(buf.length, n - out.size))
            catch { case e: java.util.zip.DataFormatException =>
              throw new MalformedMedia(s"bad zlib stream: ${e.getMessage}") }
          check(k > 0 || infl.finished(), "bad zlib stream")
          out.write(buf, 0, k)
        }
      } finally infl.end()
      check(out.size == n, s"short pixel data (${out.size} of $n)")
      out.toByteArray
    }

    /** PNG filter pass for one scanline (prev = the RAW previous line,
      * empty for y = 0); bpp = 1 (grayscale-8). */
    private def filterLine(ft: Int, cur: Array[Int], prev: Array[Int]): Array[Byte] = {
      val w = cur.length
      val out = new Array[Byte](w)
      var x = 0
      while (x < w) {
        val a = if (x > 0) cur(x - 1) else 0
        val bb = if (prev.nonEmpty) prev(x) else 0
        val c = if (x > 0 && prev.nonEmpty) prev(x - 1) else 0
        out(x) = ((cur(x) - predict(ft, a, bb, c)) & 0xff).toByte
        x += 1
      }
      out
    }

    /** Encode grayscale-8 pixels as a complete PNG. `filterType` picks
      * the scanline filter (0..4) — the re-encode plants use Sub so the
      * byte stream genuinely differs from its source while the pixels
      * match. `meta` lands in a tEXt chunk (differs per doc, so even
      * same-filter payloads never collide byte-wise). */
    def encode(w: Int, h: Int, px: Array[Int], filterType: Int,
               meta: String): Array[Byte] = {
      require(filterType >= 0 && filterType <= 4, s"bad filter $filterType")
      val raw = new java.io.ByteArrayOutputStream()
      var prev = Array.empty[Int]
      var y = 0
      while (y < h) {
        val cur = java.util.Arrays.copyOfRange(px, y * w, (y + 1) * w)
        raw.write(filterType)
        raw.write(filterLine(filterType, cur, prev), 0, w)
        prev = cur
        y += 1
      }
      val rb = raw.toByteArray
      val defl = new java.util.zip.Deflater()
      defl.setInput(rb); defl.finish()
      val buf = new Array[Byte](rb.length + 64)
      val out = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) {
        val n = defl.deflate(buf)
        out.write(buf, 0, n)
      }
      defl.end()
      val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
        Array[Byte](8, 0, 0, 0, 0) // depth 8, grayscale, std compression
      Walk.PngSig ++ chunk("IHDR", ihdr) ++
        chunk("tEXt", ("Comment\u0000" + meta).getBytes("US-ASCII")) ++
        chunk("IDAT", out.toByteArray) ++ chunk("IEND", Array.empty)
    }

    /** REAL decode of a grayscale-8 PNG: signature check, chunk walk
      * with CRC32 VERIFICATION, multi-IDAT concat, Inflater, full
      * 5-type unfilter. Throws [[MalformedMedia]] on any structural
      * violation — a decode stage must fail loudly, not hash garbage. */
    def decode(b: Array[Byte]): (Int, Int, Array[Int]) = {
      val r = new ByteReader(b)
      check(Walk.isPng(r), "not a PNG")
      var iw = 0L; var ih = 0L
      val idat = new java.io.ByteArrayOutputStream()
      Walk.png(r).foreach { c =>
        val n = c.body.length
        check(r.slice(c.at + 4, 4 + n).crc32 == r.be32(c.at + 8 + n),
          s"bad CRC in ${c.tag}")
        c.tag match {
          case "IHDR" =>
            val d = c.body
            iw = d.be32(0); ih = d.be32(4)
            check(d.u8(8) == 8 && d.u8(9) == 0,
              "decoder handles grayscale-8 only")
            check(d.u8(10) == 0 && d.u8(11) == 0 && d.u8(12) == 0,
              "decoder handles non-interlaced std compression/filter only")
          case "IDAT" => idat.write(c.body.toArray)
          case _ => ()
        }
      }
      check(iw > 0 && ih > 0 && iw <= Int.MaxValue && ih <= Int.MaxValue,
        s"missing or invalid IHDR ($iw x $ih)")
      check((iw + 1) * ih <= Int.MaxValue - 8, s"image $iw x $ih too large")
      val (w, h) = (iw.toInt, ih.toInt)
      val raw = inflate(idat.toByteArray, (w + 1) * h)
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val ft = raw(y * (w + 1)) & 0xff
        var x = 0
        while (x < w) {
          val f = raw(y * (w + 1) + 1 + x) & 0xff
          val a = if (x > 0) px(y * w + x - 1) else 0
          val bb = if (y > 0) px((y - 1) * w + x) else 0
          val c = if (x > 0 && y > 0) px((y - 1) * w + x - 1) else 0
          px(y * w + x) = (f + predict(ft, a, bb, c)) & 0xff
          x += 1
        }
        y += 1
      }
      (w, h, px)
    }
  }

  /** 64-bit average hash over an 8×8 block grid with EXACT integer
    * boundaries: pixel (x, y) belongs to block ((8y) div h, (8x) div w)
    * and bit b is set iff blocksum·N > totalsum·n_b (strict cross-
    * multiply — no division, no float, so the oracle states the same
    * bit in closed form). */
  private[graft] def aHash64(w: Int, h: Int, px: Array[Int]): Long = {
    val bs = new Array[Long](64)
    val nb = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val bidx = by * 8 + x * 8 / w
        val p = px(y * w + x)
        bs(bidx) += p; nb(bidx) += 1; total += p
        x += 1
      }
      y += 1
    }
    val n = (w * h).toLong
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (bs(i) * n > total * nb(i)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** The m07 gate corpus: every document's thumbnail PNG under the
    * pixel grammar. Re-encode plants (doc % 17 == 0) carry their
    * source's EXACT pixels re-compressed under the Sub filter with
    * different tEXt metadata — byte-different, pixel-identical, the
    * case m05's digest and m06's metadata index both miss; edit plants
    * (doc % 31) carry +3-brightness pixels — byte- AND pixel-different
    * but perceptually the same image. */
  def m07Payloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (w, h, px) = m07Pixels(id)
          val ft = if (id > 0 && id % M07ReencodeMod == 0) 1 else 0
          MediaRow(id, PngCodec.encode(w, h, px, ft, s"m07 doc $id"))
        }
      }.toDF("doc_id", "payload")
  }

  /** m07: perceptual near-duplicate detection over DECODED pixels —
    * the re-encoded-image signal the metadata index (m06) cannot see:
    * decode each payload (real inflate + unfilter), reduce it to a
    * 64-bit aHash, and emit pairs within hamming [[M07MaxHamming]] via
    * [[M07Bands]] 16-bit band buckets (pigeonhole-complete at this
    * radius, d04's machinery).
    *
    * Scale shape: decode is one mapPartitions pass; ONLY (id, 8-byte
    * hash) rows ever shuffle (m05's digest discipline); the band
    * self-join fans out only on genuine 16-bit band collisions and the
    * explicit repartition pins pair-generation parallelism (the AQE
    * quadratic-output lesson). At larger corpora the band layout must
    * recalibrate like d05's bits (wider bands / a second-level key);
    * the 64-bit hash bounds what banding can do — the documented next
    * step at 10⁹+ images is a multi-probe on band XOR neighbors. */
  def m07PerceptualDedup(s: SparkSession, d: String): DataFrame =
    perceptualDedup(s, m07Payloads(s, d))

  /** m08: perceptual duplicate GROUP resolution — the act-on-it half
    * of m07 (d06's posture for images): connected components over the
    * perceptual pair graph ([[Dedup.connectedComponents]], the shared
    * min-label-propagation machinery), min-id canonical keeper, group
    * size — "which images to keep" where m05 answers it only for
    * byte-identical copies. A re-encode chain (original → Sub-filter
    * re-encode → brightness edit) collapses into ONE group even when
    * no two members share bytes.
    *
    * Scale shape inherits its parts': decode is one mapPartitions
    * pass, only (id, hash) rows shuffle, CC iterates only
    * edge-incident vertices (plant-bounded here), singletons reattach
    * with one left join after convergence. */
  def m08MediaGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = m07PerceptualDedup(s, d).select(col("id_a"), col("id_b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("id"))
    val labels = Dedup.connectedComponents(verts, pairs)
    val sizes = labels.groupBy(col("lbl").as("cid"))
      .agg(count(lit(1)).as("group_size"))
    labels.join(sizes, col("lbl") === col("cid"))
      .select(col("id").as("doc_id"), col("lbl").as("canonical_id"),
        col("group_size"), (col("id") === col("lbl")).as("is_keeper"))
  }

  /** [[m07PerceptualDedup]] over any (doc_id, payload) frame of
    * grayscale-8 PNGs (spec entry — fixtures plant hand-encoded
    * images). */
  def perceptualDedup(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val hashes = payloads.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val (w, h, px) = PngCodec.decode(r.payload)
        (r.doc_id, aHash64(w, h, px))
      }
    }.toDF("doc_id", "fp")
    hammingPairs(s, hashes)
  }

  /** Band-bucketed hamming-radius pair emission over ANY (doc_id, fp)
    * 64-bit fingerprint frame — the generic half of m07/m09 (d04's
    * machinery): [[M07Bands]] 16-bit band buckets are pigeonhole-
    * complete at radius [[M07MaxHamming]]; only (id, 8-byte hash) rows
    * shuffle, the explicit repartition pins pair-generation parallelism
    * against AQE input-size coalescing. */
  def hammingPairs(s: SparkSession, hashes: DataFrame,
                   maxHamming: Int = M07MaxHamming): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("fp"),
      explode(array((0 until M07Bands).map(bnd => struct(lit(bnd).as("band"),
        shiftright(col("fp"), 16 * bnd).bitwiseAND(lit(65535L)).as("key"))): _*))
        .as("x"))
      .select(col("doc_id"), col("fp"),
        col("x.band").as("band"), col("x.key").as("key"))
    val n = s.sessionState.conf.numShufflePartitions
    val a = bands.toDF("id_a", "fa", "band", "key")
      .repartition(n, col("band"), col("key"))
    val b = bands.toDF("id_b", "fb", "band2", "key2")
      .repartition(n, col("band2"), col("key2"))
    a.join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fa", "fb").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming.toLong)
  }

  // -------------------------------------------------------------------
  // m09: perceptual AUDIO near-dup over real PCM — m07's grammar for
  // the time axis. The corpus WAVs carry REAL sample bytes in the
  // `data` chunk (m03's payloads stop at header metadata); the
  // fingerprint is an exact-integer frame-energy hash (per-frame
  // magnitude sums vs the global mean, strict cross-multiply — aHash64's
  // rule over time instead of space); pairs ride [[hammingPairs]].
  // -------------------------------------------------------------------

  /** m09 grammar constants. Plants: doc % 19 == 0 is a BIT-DEPTH
    * RE-ENCODE of doc−1 (the same signal stored 16-bit, samples ×256 —
    * byte-different, energy-profile-identical: uniform scaling cancels
    * in the cross-multiply, so hamming 0 by algebra); doc % 29 == 0 is
    * a +[[M09Gain]] GAIN edit of doc−1 (saturating at the 8-bit rails,
    * so magnitudes shift uniformly except where they clip — near-zero
    * hamming, the m07-edit pattern).
    *
    * CHAINING CAVEAT: when doc % 19 == 0 AND (doc−1) % 29 == 0, the
    * re-encode derives from doc−1's UNEDITED base grammar
    * ([[m09Samples]] reads b = doc−1 and applies no edit), while doc−1
    * itself carries the gain edit — so that pair is hamming-0 with
    * doc−1's BASE signal, not with doc−1 as stored. Oracle and baseline
    * apply the identical rule (parity unaffected); only the nominal
    * "re-encode of doc−1" reading is off for those ids. */
  val M09Seed = 59
  val M09MaxHamming = 3
  private val M09ReencodeMod = 19
  private val M09EditMod = 29
  private val M09Gain = 5

  private[graft] def m09BaseId(doc: Long): Long =
    if (doc > 0 && (doc % M09ReencodeMod == 0 || doc % M09EditMod == 0)) doc - 1
    else doc
  private[graft] def m09Reenc(doc: Long): Boolean =
    doc > 0 && doc % M09ReencodeMod == 0
  private[graft] def m09Edited(doc: Long): Boolean =
    doc > 0 && doc % M09ReencodeMod != 0 && doc % M09EditMod == 0

  /** Deterministic centered 8-bit sample stream of a document under the
    * m09 grammar: n = 64 + (b·5) % 97 samples (64..160 — 1-3 per hash
    * frame, exercising the integer frame boundaries), sample i's byte
    * drawn from hash60(seed, "b:i/7") cycling every 7 samples (m07's
    * row grammar along time), centered to [-128, 127]. Returns
    * (bitsPerSample, samples): re-encode plants report 16 (the codec
    * stores samples ×256), everything else 8. */
  private[graft] def m09Samples(doc: Long): (Int, Array[Int]) = {
    val b = m09BaseId(doc)
    val n = (64 + (b * 5) % 97).toInt
    val edited = m09Edited(doc)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](n)
    var r = 0L
    var i = 0
    while (i < n) {
      if (i % 7 == 0) r = h60Local(md, M09Seed, s"$b:${i / 7}")
      var sv = (((r >> (8 * (i % 7))) & 255L) - 128L).toInt
      if (edited)
        sv = if (sv >= 0) math.min(sv + M09Gain, 127)
             else math.max(sv - M09Gain, -128)
      out(i) = sv
      i += 1
    }
    (if (m09Reenc(doc)) 16 else 8, out)
  }

  /** REAL PCM WAV codec: [[encode]] lands actual sample bytes in the
    * `data` chunk (8-bit unsigned or 16-bit signed LE, mono — the two
    * canonical PCM layouts); [[decode]] walks the RIFF chunks with
    * structural validation and returns the RAW stored sample values
    * (centered for 8-bit), throwing [[MalformedMedia]] on anything not
    * mono 8/16-bit PCM — a decode stage must never hash garbage.
    * decode(encode(s, bits)) reproduces the samples exactly (PCM is
    * codec-free by definition), so determinism is independent of any
    * compressor and the oracle mirrors SAMPLES (the generation rule),
    * never bytes — m07's PNG convention. javax.sound.sampled reads the
    * same files as the cross-check (AudioDedupSpec). */
  object PcmCodec {
    val SampleRate = 8000L

    /** The raw sample-byte packing shared by the WAV data chunk and the
      * MP4 audio trak's mdat bytes (m12): 8-bit unsigned offset-binary
      * or 16-bit signed little-endian — byte-level parity between the
      * two containers holds BY CONSTRUCTION, not by convention. */
    private[Multimodal] def pack(bits: Int, samples: Array[Int]): Array[Byte] = {
      require(bits == 8 || bits == 16, s"unsupported depth $bits")
      val block = bits / 8
      val data = new Array[Byte](samples.length * block)
      var i = 0
      while (i < samples.length) {
        if (bits == 8) data(i) = (samples(i) + 128).toByte
        else {
          val v = samples(i) * 256
          data(2 * i) = (v & 0xff).toByte
          data(2 * i + 1) = ((v >> 8) & 0xff).toByte
        }
        i += 1
      }
      data
    }

    /** Inverse of [[pack]] over a sample window (centered for 8-bit). */
    private[Multimodal] def unpack(bits: Int, d: ByteReader): Array[Int] = {
      check(d.length % (bits / 8) == 0, "sample bytes not block-aligned")
      Array.tabulate(d.length / (bits / 8))(k =>
        if (bits == 8) d.u8(k) - 128 else d.le16(2L * k).toShort.toInt)
    }

    def encode(bits: Int, samples: Array[Int]): Array[Byte] = {
      val block = bits / 8
      val data = pack(bits, samples)
      val pad = data.length & 1 // RIFF pads odd chunks (not in the size)
      val bos = new java.io.ByteArrayOutputStream()
      def w(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
      def le(v: Long, nb: Int): Unit = {
        var k = 0
        while (k < nb) { bos.write(((v >> (8 * k)) & 0xff).toInt); k += 1 }
      }
      w("RIFF"); le(4L + 24L + 8L + data.length + pad, 4); w("WAVE")
      w("fmt "); le(16, 4); le(1, 2); le(1, 2); le(SampleRate, 4)
      le(SampleRate * block, 4); le(block, 2); le(bits, 2)
      w("data"); le(data.length, 4); bos.write(data)
      if (pad == 1) bos.write(0)
      bos.toByteArray
    }

    /** (bitsPerSample, raw stored samples). */
    def decode(b: Array[Byte]): (Int, Array[Int]) = {
      val r = new ByteReader(b)
      check(r.has(0, 12) && r.tag(0) == "RIFF" && r.tag(8) == "WAVE", "not a WAV")
      var fmt = -1; var ch = -1; var bits = -1
      var data: ByteReader = null
      Walk.riff(r).foreach { c =>
        if (c.tag == "fmt ") {
          check(c.body.length >= 16, "short fmt chunk")
          fmt = c.body.le16(0); ch = c.body.le16(2); bits = c.body.le16(14)
        } else if (c.tag == "data") data = c.body
      }
      check(fmt == 1 && ch == 1, "decoder handles mono PCM only")
      check(bits == 8 || bits == 16, s"unsupported depth $bits")
      check(data != null, "missing data chunk")
      (bits, unpack(bits, data))
    }
  }

  /** 64-bit frame-energy hash with EXACT integer boundaries: sample i
    * belongs to frame (64·i) div n, and bit f is set iff
    * frameAbsSum·n > totalAbsSum·n_f (strict cross-multiply — no
    * division, no float; a uniform ×k re-encode scales both sides by k
    * and leaves every bit unchanged, which is the re-encode-invariance
    * the plants exercise). */
  private[graft] def audioHash64(samples: Array[Int]): Long = {
    val n = samples.length.toLong
    require(n > 0, "empty sample stream")
    val fs = new Array[Long](64)
    val nf = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < samples.length) {
      val f = ((64L * i) / n).toInt
      val a = math.abs(samples(i).toLong)
      fs(f) += a; nf(f) += 1; total += a
      i += 1
    }
    var hash = 0L
    var f = 0
    while (f < 64) {
      if (fs(f) * n > total * nf(f)) hash |= (1L << f)
      f += 1
    }
    hash
  }

  /** The m09 gate corpus: every document's PCM WAV under the sample
    * grammar — real audio bytes, unlike m03's header-only walk. */
  def m09Payloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (bits, smp) = m09Samples(id)
          MediaRow(id, PcmCodec.encode(bits, smp))
        }
      }.toDF("doc_id", "payload")
  }

  /** [[m09AudioDedup]] over any (doc_id, payload) frame of mono PCM
    * WAVs (spec entry). Scale shape = m07's: decode is one
    * mapPartitions pass, only (id, 8-byte hash) rows shuffle, pairs via
    * the shared [[hammingPairs]] band machinery. */
  def audioDedup(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val hashes = payloads.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val (_, smp) = PcmCodec.decode(r.payload)
        (r.doc_id, audioHash64(smp))
      }
    }.toDF("doc_id", "fp")
    hammingPairs(s, hashes, M09MaxHamming)
  }

  /** m09: perceptual audio near-duplicate detection over DECODED PCM
    * samples — the re-encoded-audio signal m05's byte digest cannot see
    * (a bit-depth-shifted copy shares no bytes) and m03's header walk
    * never reaches. Closes the audio half of the decode boundary m07
    * closed for images, with zero new dependencies. */
  def m09AudioDedup(s: SparkSession, d: String): DataFrame =
    audioDedup(s, m09Payloads(s, d))

  // -------------------------------------------------------------------
  // m11: perceptual VIDEO near-dup — the container+frames composition
  // that closes the video half of the decode boundary: a structurally
  // complete MP4 whose mdat carries REAL encoded frames addressed by
  // REAL sample tables (stsz/stco/stsc/stts), frame extraction via the
  // tables (never signature-scanning the mdat), per-frame PNG decode +
  // aHash, near-dup videos by shared perceptual frame hashes.
  // -------------------------------------------------------------------

  /** Build/parse the frame-addressing half of ISO-BMFF: [[encode]]
    * lands N frame payloads in one mdat chunk with exact stsz sizes and
    * the stco offset; [[sampleRanges]] reads them BACK from the sample
    * tables (requires the one-chunk contiguous layout it writes —
    * stsc: one run — and fails loudly on missing tables or ranges
    * outside the buffer). The moov carries m04's full box grammar
    * (mvhd/tkhd/mdhd/hdlr/stsd), so [[BmffDecode.decode]] reads these
    * files too. */
  object Mp4Frames {
    private def bos = new java.io.ByteArrayOutputStream()
    private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val o = bos
      val size = 8 + payload.length
      o.write((size >> 24) & 0xff); o.write((size >> 16) & 0xff)
      o.write((size >> 8) & 0xff); o.write(size & 0xff)
      o.write(typ.getBytes("US-ASCII")); o.write(payload)
      o.toByteArray
    }
    private def be32a(vs: Long*): Array[Byte] = {
      val o = bos
      vs.foreach { v =>
        o.write(((v >> 24) & 0xff).toInt); o.write(((v >> 16) & 0xff).toInt)
        o.write(((v >> 8) & 0xff).toInt); o.write((v & 0xff).toInt)
      }
      o.toByteArray
    }
    private def hex(s: String): Array[Byte] = {
      val clean = s.replaceAll("\\s", "")
      Array.tabulate(clean.length / 2)(i =>
        Integer.parseInt(clean.substring(2 * i, 2 * i + 2), 16).toByte)
    }
    private val Matrix =
      "00010000 00000000 00000000 00000000 00010000 00000000" +
        "00000000 00000000 40000000"

    def encode(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] =
      mux(frames, w, h, None)

    /** The file [[encode]] (no audio) and [[encodeAv]] write: ftyp, a moov
      * holding the video trak (track 1) and the optional audio trak
      * (track 2), and one mdat with the frame bytes then the audio
      * bytes. */
    private def mux(frames: Seq[Array[Byte]], w: Int, h: Int,
                    audio: Option[(Int, Array[Int])]): Array[Byte] = {
      require(frames.nonEmpty, "a video needs at least one frame")
      audio.foreach { case (_, a) => require(a.nonEmpty, "an audio trak needs samples") }
      val ftyp = hex("00000018 66747970 69736F6D 00000200 69736F6D 69736F32")
      val n = frames.length.toLong
      val mvhd = box("mvhd", be32a(0, 0, 0, 600, n) ++
        hex("00010000 01000000 0000000000000000" + Matrix + ("00" * 24)) ++
        be32a(if (audio.isEmpty) 2 else 3)) // next track id
      val pngEntry = {
        val o = bos
        o.write(be32a(86)); o.write("png ".getBytes("US-ASCII"))
        o.write(hex("000000000000 0001 0000 0000 000000000000000000000000"))
        o.write((w >> 8) & 0xff); o.write(w & 0xff)
        o.write((h >> 8) & 0xff); o.write(h & 0xff)
        o.write(hex("00480000 00480000 00000000 0001" + ("00" * 32) +
          "0018 FFFF"))
        o.toByteArray
      }
      val frameBytes = frames.map(_.length).sum
      val aBytes = audio.fold(Array.emptyByteArray) { case (bits, a) => PcmCodec.pack(bits, a) }
      def traks(chunkOff: Long): Array[Byte] = {
        val video = trak(1, 600, n, "0000", w, h, "vide", Array.emptyByteArray,
          pngEntry, be32a(0L +: 0L +: n +: frames.map(_.length.toLong): _*),
          chunkOff)
        audio.fold(video) { case (bits, a) =>
          val o = bos
          o.write(be32a(36))
          o.write((if (bits == 8) "raw " else "sowt").getBytes("US-ASCII"))
          o.write(hex("000000000000 0001 0000 0000 00000000"))
          o.write(be32a((1L << 16) | bits.toLong)) // channels=1, samplesize
          o.write(hex("0000 0000"))
          o.write(be32a(PcmCodec.SampleRate << 16))
          val an = a.length.toLong
          video ++ trak(2, PcmCodec.SampleRate, an, "0100", 0, 0, "soun",
            box("smhd", be32a(0, 0)), o.toByteArray,
            be32a(0, (bits / 8).toLong, an), chunkOff + frameBytes)
        }
      }
      def assemble(chunkOff: Long): Array[Byte] =
        ftyp ++ box("moov", mvhd ++ traks(chunkOff)) ++
          box("mdat", frames.reduce(_ ++ _) ++ aBytes)
      // stco needs the absolute mdat payload offset, which sits at EOF
      // minus the media bytes; the offset does not change any box size,
      // so one probe pass fixes it.
      val probe = assemble(0)
      assemble((probe.length - frameBytes - aBytes.length).toLong)
    }

    /** One trak of `count` one-tick samples in one chunk at `chunkOff`:
      * tkhd, then mdia → mdhd, hdlr, minf → `mediaHeader` and stbl
      * (stsd holding `entry`, stts, stsc, stsz `sizes`, stco). */
    private def trak(id: Long, timescale: Long, count: Long, volume: String,
                     w: Int, h: Int, handler: String, mediaHeader: Array[Byte],
                     entry: Array[Byte], sizes: Array[Byte],
                     chunkOff: Long): Array[Byte] = {
      val tkhd = box("tkhd", be32a(7, 0, 0, id, 0, count) ++
        hex("0000000000000000 0000 0000" + volume + "0000" + Matrix) ++
        be32a(w.toLong << 16, h.toLong << 16))
      val mdhd = box("mdhd", be32a(0, 0, 0, timescale, count) ++ hex("55C4 0000"))
      val hdlr = box("hdlr", be32a(0, 0) ++ handler.getBytes("US-ASCII") ++
        new Array[Byte](13))
      val stbl = box("stbl", box("stsd", be32a(0, 1) ++ entry) ++
        box("stts", be32a(0, 1, count, 1)) ++
        box("stsc", be32a(0, 1, 1, count, 1)) ++
        box("stsz", sizes) ++ box("stco", be32a(0, 1, chunkOff)))
      box("trak", tkhd ++ box("mdia", mdhd ++ hdlr ++
        box("minf", mediaHeader ++ stbl)))
    }

    /** One trak's decode-relevant tables: the hdlr handler type, the
      * stsd first-entry format fourcc, the audio samplesize field (0
      * for video entries), the stsz table (uniform size + count, or a
      * per-sample size array), and the single stco chunk offset. */
    private[graft] final case class TrakInfo(
        handler: String, format: String, sampleSize: Int,
        uniformSize: Long, count: Long, sizes: Array[Long], chunkOff: Long)

    /** Per-TRAK table walk (the multi-track generalization of the old
      * global walk — a file carrying both a video and an audio trak has
      * two stsz/stco sets, and a global collector would hand one trak's
      * offsets to the other's decoder).
      *
      * KNOWN WRITER DEVIATION (documented, deliberate): encodeAv stamps
      * the audio trak's tkhd duration in MEDIA-timescale samples where
      * ISO-BMFF wants MOVIE-timescale (600 Hz) units — this reader (and
      * every gate) ignores tkhd entirely, and correcting the bytes
      * would silently change the digests m05-class dedup hashes over
      * the generated corpus, so the fix is deferred to a round that can
      * re-gate the digest family; a strict external player would report
      * a wrong audio track duration. */
    private[graft] def trakInfos(b: Array[Byte]): Seq[TrakInfo] = {
      val r = new ByteReader(b)
      check(r.has(4, 8) && r.tag(4) == "ftyp", "not an MP4")
      val traks = Walk.bmffTree(r).filter(_.tag == "trak").map { trak =>
        var handler = ""; var format = ""; var sampleSize = 0
        var uniformSize = 0L; var count = 0L
        var sizes: Array[Long] = null; var chunkOff = -1L
        Walk.bmffTree(trak.body).foreach { box =>
          val p = box.body
          box.tag match {
            case "hdlr" => handler = p.tag(8)
            case "stsd" =>
              // ver/flags(4) entry_count(4), then the first sample entry,
              // which must be a whole sample entry (>= 28 bytes) inside
              // the box. Its SoundSampleEntry samplesize field (bits per
              // sample) only means something for audio formats — the
              // reader checks the handler before trusting it.
              val size = p.be32(8)
              check(size >= 28 && p.has(8, size),
                "stsd first entry truncated (need a 28-byte sample entry)")
              val entry = p.slice(8, size)
              format = entry.tag(4); sampleSize = entry.be16(26)
            case "stsz" =>
              uniformSize = p.be32(4); count = p.be32(8)
              if (uniformSize == 0) {
                val table = p.slice(12, 4 * count) // bounds before allocating
                sizes = Array.tabulate(count.toInt)(k => table.be32(4L * k))
              }
            case "stco" =>
              check(p.be32(4) == 1L, "multi-chunk stco unsupported")
              chunkOff = p.be32(8)
            case _ => ()
          }
        }
        check(handler.nonEmpty && chunkOff >= 0 &&
          (sizes != null || uniformSize > 0),
          "trak missing hdlr/stsz/stco tables")
        TrakInfo(handler, format, sampleSize, uniformSize, count, sizes, chunkOff)
      }.toList
      check(traks.nonEmpty, "no trak found")
      traks
    }

    /** Frame (offset, size) ranges from the VIDEO trak's real sample
      * tables (multi-track-safe: selects the 'vide' handler). */
    def sampleRanges(b: Array[Byte]): Seq[(Int, Int)] = {
      val v = trakInfos(b).find(_.handler == "vide")
        .getOrElse(throw new MalformedMedia("no video trak"))
      check(v.sizes != null, "uniform stsz unsupported for video frames")
      val r = new ByteReader(b)
      var off = v.chunkOff
      v.sizes.toSeq.map { n =>
        check(r.has(off, n), "sample range outside buffer")
        val range = (off.toInt, n.toInt)
        off += n
        range
      }
    }

    /** (bitsPerSample, raw stored samples) from the AUDIO trak — the
      * m12 read path: bits from the SoundSampleEntry ('raw ' 8-bit
      * unsigned / 'sowt' 16-bit signed LE, the two uncompressed-PCM
      * QuickTime forms [[PcmCodec]] writes in WAV), sample bytes
      * addressed by the uniform stsz + stco, decoded by the SAME
      * [[PcmCodec.unpack]] the WAV reader uses — container-independent
      * by construction, hash-gated against the WAV path by m12. */
    def audioSamples(b: Array[Byte]): (Int, Array[Int]) = {
      val a = trakInfos(b).find(_.handler == "soun")
        .getOrElse(throw new MalformedMedia("no audio trak"))
      val bits = a.format match {
        case "raw " => 8
        case "sowt" => 16
        case f => throw new MalformedMedia(s"unsupported audio sample format '$f'")
      }
      check(a.sampleSize == bits, "stsd samplesize disagrees with format")
      check(a.uniformSize == bits / 8 && a.count > 0,
        "audio stsz must be uniform at the PCM block size")
      val r = new ByteReader(b)
      val byteLen = a.count * a.uniformSize
      check(r.has(a.chunkOff, byteLen), "audio range outside buffer")
      (bits, PcmCodec.unpack(bits, r.slice(a.chunkOff, byteLen)))
    }

    /** Encode an AUDIO+VIDEO MP4: the video trak exactly as [[encode]]
      * writes it, plus an audio trak (trak id 2, 'soun' handler, smhd,
      * SoundSampleEntry 'raw '/'sowt', UNIFORM stsz at the PCM block
      * size — one table row regardless of length, the layout real
      * uncompressed-audio muxers emit) whose samples land in the SAME
      * mdat after the frame bytes. Audio bytes are
      * [[PcmCodec.pack]]'s — byte-identical to the WAV data chunk. */
    def encodeAv(frames: Seq[Array[Byte]], w: Int, h: Int,
                 audioBits: Int, audio: Array[Int]): Array[Byte] =
      mux(frames, w, h, Some(audioBits -> audio))
  }

  /** m11 grammar constants. Plants: doc % 23 == 0 is a per-frame PNG
    * RE-ENCODE of doc−1's video (Sub filter — every frame
    * byte-different, pixel-identical); doc % 37 == 0 is a TRIM of
    * doc−1 (first frame dropped — the clipped-repost case). */
  val M11Seed = 67
  val M11MinShared = 2
  val M11MaxFrameDf = 64 // stop-frame cap, d02's discipline
  private val M11ReencodeMod = 23
  private val M11TrimMod = 37

  private[graft] def m11BaseId(doc: Long): Long =
    if (doc > 0 && (doc % M11ReencodeMod == 0 || doc % M11TrimMod == 0)) doc - 1
    else doc
  private[graft] def m11Reenc(doc: Long): Boolean =
    doc > 0 && doc % M11ReencodeMod == 0
  private[graft] def m11Trim(doc: Long): Boolean =
    doc > 0 && doc % M11ReencodeMod != 0 && doc % M11TrimMod == 0
  private[graft] def m11FrameCount(b: Long): Int = (3 + b % 3).toInt
  private[graft] def m11FramePixels(b: Long, f: Int): (Int, Int, Array[Int]) = {
    val w = (8 + b % 9).toInt
    val h = (8 + (b * 5) % 9).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val r = h60Local(md, M11Seed, s"$b:$f:$y")
      var x = 0
      while (x < w) {
        px(y * w + x) = ((r >> (8 * (x % 7))) & 255L).toInt
        x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** The m11 gate corpus: every document's MP4 under the frame
    * grammar — real PNG frames in the mdat, real sample tables. */
  def m11Payloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val b = m11BaseId(id)
          val ft = if (m11Reenc(id)) 1 else 0
          val range = if (m11Trim(id)) 1 until m11FrameCount(b)
                      else 0 until m11FrameCount(b)
          val frames = range.map { f =>
            val (w, h, px) = m11FramePixels(b, f)
            PngCodec.encode(w, h, px, ft, s"m11 doc $id f$f")
          }
          val (w0, h0, _) = m11FramePixels(b, range.head)
          MediaRow(id, Mp4Frames.encode(frames, w0, h0))
        }
      }.toDF("doc_id", "payload")
  }

  /** [[m11VideoNeardup]] over any (doc_id, payload) frame of MP4s with
    * PNG frames (spec entry). Scale shape: ONE container+frame decode
    * pass per video (mapPartitions; frames addressed via the sample
    * tables, never signature-scanned), only (id, 8-byte frame hash)
    * rows shuffle; the frame-hash inverted index carries the d02
    * stop-frame df cap so a boilerplate frame (intros, slates) cannot
    * join the corpus at scale; pair volume is shared-frame-bounded. */
  def videoNeardup(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val vf = payloads.as[MediaRow].mapPartitions { it =>
      it.flatMap { r =>
        Mp4Frames.sampleRanges(r.payload).map { case (off, len) =>
          val (w, h, px) = PngCodec.decode(
            java.util.Arrays.copyOfRange(r.payload, off, off + len))
          (r.doc_id, aHash64(w, h, px))
        }
      }
    }.toDF("doc_id", "fh").distinct()
      .transform(graft.Checkpoints.cut) // 4 consumers; lineage = the decode pass
    val kept = vf.join(
      vf.groupBy("fh").agg(count(lit(1)).as("fdf"))
        .filter(col("fdf") <= M11MaxFrameDf).select("fh"),
      Seq("fh"), "leftsemi")
    val n = s.sessionState.conf.numShufflePartitions
    val a = kept.select(col("fh"), col("doc_id").as("id_a"))
      .repartition(n, col("fh"))
    val b = kept.select(col("fh").as("fh2"), col("doc_id").as("id_b"))
      .repartition(n, col("fh2"))
    val shared = a
      .join(b, col("fh") === col("fh2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= M11MinShared)
    val nv = vf.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    shared
      .join(nv.toDF("id_a", "n_a"), "id_a")
      .join(nv.toDF("id_b", "n_b"), "id_b")
      .select("id_a", "id_b", "n_shared", "n_a", "n_b")
  }

  /** m11: perceptual VIDEO near-duplicate detection — the signal
    * neither m04's header walk nor m05's byte digest can see: a
    * per-frame re-encode shares no bytes, a trimmed repost shares no
    * length, but both share perceptual FRAME content. Frames come out
    * of the real sample tables; the pair rule is ≥ [[M11MinShared]]
    * shared distinct frame hashes. Closes the video half of the
    * decode boundary (m07 images, m09 audio, m11 video) with zero new
    * dependencies. */
  def m11VideoNeardup(s: SparkSession, d: String): DataFrame =
    videoNeardup(s, m11Payloads(s, d))

  // -------------------------------------------------------------------
  // m12: the MP4 AUDIO TRAK through the sample tables — the container
  // wall's last stone: m11 reads the video trak, m12 reads the audio
  // trak of the SAME container grammar (real MP4s carry both), feeding
  // m09's frame-energy hash. The audio grammar IS m09's (same samples,
  // same plants), so the oracle is m09's SQL verbatim and the hash gate
  // proves container-independence: extracting PCM from an MP4 audio
  // trak equals decoding the WAV — byte-parity of the sample stream by
  // the shared PcmCodec.pack/unpack, table-addressed, never scanned.
  // -------------------------------------------------------------------

  /** The m12 gate corpus: every document as an AUDIO+VIDEO MP4 — the
    * m09 sample grammar (plants included: 16-bit re-encode becomes a
    * 'sowt' vs 'raw ' sample-entry difference, a genuine container-
    * level change) in the audio trak, one real PNG frame (the m11
    * pixel grammar at f=0, no video plants) in the video trak. */
  def m12Payloads(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (bits, smp) = m09Samples(id)
          val (w, h, px) = m11FramePixels(id, 0)
          val frame = PngCodec.encode(w, h, px, 0, s"m12 doc $id")
          MediaRow(id, Mp4Frames.encodeAv(Seq(frame), w, h, bits, smp))
        }
      }.toDF("doc_id", "payload")
  }

  /** [[m12Mp4AudioDedup]] over any (doc_id, payload) frame of MP4s with
    * a PCM audio trak (spec entry). Scale shape = m09's: one
    * mapPartitions container+decode pass, only (id, 8-byte hash) rows
    * shuffle, pairs via the shared [[hammingPairs]] band machinery. */
  def mp4AudioDedup(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val hashes = payloads.as[MediaRow].mapPartitions { it =>
      it.map { r =>
        val (_, smp) = Mp4Frames.audioSamples(r.payload)
        (r.doc_id, audioHash64(smp))
      }
    }.toDF("doc_id", "fp")
    hammingPairs(s, hashes, M09MaxHamming)
  }

  /** m12: perceptual audio near-dup over the MP4 AUDIO TRAK — the
    * multi-track container read m04's walk descends past and m11's
    * video extraction ignores. Same output as m09 over the same sample
    * grammar, proved by sharing m09's oracle verbatim (the e11 = e09
    * convention): the gate pins the audio-trak extraction path to the
    * WAV decode path, every run. */
  def m12Mp4AudioDedup(s: SparkSession, d: String): DataFrame =
    mp4AudioDedup(s, m12Payloads(s, d))

  /** m10: perceptual audio duplicate GROUPS — m08's act-on-it posture
    * for the audio axis: connected components over m09's pair graph
    * (the shared min-label machinery), min-id canonical keeper, group
    * size. A re-encode + gain-edit chain collapses into ONE keep/drop
    * group even when no two members share a byte. Inherits its parts'
    * scale shapes verbatim. */
  def m10AudioGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = m09AudioDedup(s, d).select(col("id_a"), col("id_b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("id"))
    val labels = Dedup.connectedComponents(verts, pairs)
    val sizes = labels.groupBy(col("lbl").as("cid"))
      .agg(count(lit(1)).as("group_size"))
    labels.join(sizes, col("lbl") === col("cid"))
      .select(col("id").as("doc_id"), col("lbl").as("canonical_id"),
        col("group_size"), (col("id") === col("lbl")).as("is_keeper"))
  }
}
