package graft

/** Hand-assembled media containers shared by the decoder specs — built
  * byte by byte, not by the payload generators, so a generator bug can't
  * self-certify. */
object MediaFixtures {
  def be4(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def be2(v: Long): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def be8(v: Long): Array[Byte] = be4(v >> 32) ++ be4(v & 0xffffffffL)
  def le4(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  def le2(v: Long): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  def box(typ: String, content: Array[Byte]): Array[Byte] =
    be4(content.length + 8L) ++ typ.getBytes("US-ASCII") ++ content

  /** PNG signature + a 640×480 IHDR (filler CRC). */
  val pngIhdr: Array[Byte] =
    hexBytes("89504E470D0A1A0A" + "0000000D" + "49484452") ++
      be4(640) ++ be4(480) ++ hexBytes("080600000012345678")

  /** [[pngIhdr]], a tEXt chunk with 3 data bytes, IEND. */
  val pngChunks: Array[Byte] = pngIhdr ++
    hexBytes("00000003" + "74455874" + "010203" + "00000000") ++
    hexBytes("00000000" + "49454E44" + "AE426082")

  /** SOI, a COM segment of unusual length (9), APP0, then a progressive
    * SOF2 for 1920×1080 — offsets unlike the generator's fixed layout. */
  val jpegSof2: Array[Byte] = hexBytes("FFD8" + "FFFE0009" + "00112233445566") ++
    hexBytes("FFE000104A46494600010100000100010000") ++
    hexBytes("FFC2001108") ++ be2(1080) ++ be2(1920) ++
    hexBytes("03012200021101031101" + "FFD9")

  /** SOI, a 2-byte COM, a short SOF0 (9×7), EOI. */
  val jpegSof0: Array[Byte] =
    hexBytes("FFD8" + "FFFE0004" + "0A0B" + "FFC00007" + "08") ++
      be2(9) ++ be2(7) ++ hexBytes("FFD9")

  /** 2ch 44.1 kHz 16-bit PCM, 100 samples (data 400 bytes, byteRate
    * 176400), behind a LIST chunk of ODD size (3, padded to 4) so a
    * walker that skips padding lands mid-chunk. */
  val wavOddList: Array[Byte] = {
    val data = Array.fill(400)(0x41.toByte)
    "RIFF".getBytes ++ le4(4 + 12 + 24 + 8 + 400) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le4(3) ++ Array[Byte](1, 2, 3, 0) ++
      "fmt ".getBytes ++ le4(16) ++ le2(1) ++ le2(2) ++ le4(44100) ++
      le4(176400) ++ le2(4) ++ le2(16) ++
      "data".getBytes ++ le4(400) ++ data
  }

  val mp4Ftyp: Array[Byte] = box("ftyp", "isom".getBytes ++ be4(0))

  /** A moov laid out unlike the generator's: a `free` box, a VERSION-1
    * mvhd (64-bit times; timescale 90000, duration 123456789), no
    * tkhd/mdhd/hdlr, and an hvc1 3840×2160 stsd entry. */
  val mp4Moov: Array[Byte] = {
    val entry = be4(86) ++ "hvc1".getBytes ++ Array.fill[Byte](24)(0) ++
      be2(3840) ++ be2(2160) ++ Array.fill[Byte](50)(0)
    val stsd = box("stsd", be4(0) ++ be4(1) ++ entry)
    val trak = box("trak", box("mdia", box("minf", box("stbl", stsd))))
    val mvhd = box("mvhd",
      hexBytes("01000000") ++ be8(7L) ++ be8(9L) ++ be4(90000) ++ be8(123456789L))
    box("moov", box("free", Array[Byte](1, 2)) ++ mvhd ++ trak)
  }

  /** A trailing mdat with size 0 (extends to EOF, streamed-file layout). */
  val mdatEof: Array[Byte] = be4(0) ++ "mdat".getBytes ++ Array.fill[Byte](32)(7)

  /** [[mp4Moov]] re-headed with size 1 and a 64-bit largesize. */
  val moovLarge: Array[Byte] =
    be4(1) ++ "moov".getBytes ++ be8(mp4Moov.length + 8L) ++ mp4Moov.drop(8)
}
