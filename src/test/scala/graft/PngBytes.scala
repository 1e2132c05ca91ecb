package graft

import java.nio.ByteBuffer

/** Hand-built PNG streams for decoder specs: chunks with real CRCs around
  * caller-supplied IHDR fields and IDAT payloads.
  */
object PngBytes {
  val Signature: Array[Byte] = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val body = typ.getBytes("ISO-8859-1") ++ payload
    val crc = new java.util.zip.CRC32(); crc.update(body)
    ByteBuffer.allocate(4).putInt(payload.length).array() ++ body ++
      ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
  }

  def ihdr(w: Int, h: Int, depth: Int, colorType: Int): Array[Byte] =
    chunk("IHDR", ByteBuffer.allocate(13).putInt(w).putInt(h).put(depth.toByte)
      .put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array())

  def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A non-interlaced PNG whose filtered scanlines (filter byte first) are `raw`. */
  def png(w: Int, h: Int, depth: Int, colorType: Int, raw: Array[Byte]): Array[Byte] =
    Signature ++ ihdr(w, h, depth, colorType) ++ chunk("IDAT", zlib(raw)) ++ chunk("IEND", Array.empty)

  /** Recompute the CRC of every whole chunk, so a mutated stream gets past
    * the CRC check into the chunk's payload handling.
    */
  def fixCrcs(b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    var pos = 8
    while (pos + 12 <= out.length) {
      val len = ByteBuffer.wrap(out, pos, 4).getInt.toLong & 0xffffffffL
      if (len > out.length - pos - 12) return out
      val crc = new java.util.zip.CRC32(); crc.update(out, pos + 4, len.toInt + 4)
      ByteBuffer.wrap(out, pos + 8 + len.toInt, 4).putInt(crc.getValue.toInt)
      pos += 12 + len.toInt
    }
    out
  }
}
