package graft.operators

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Deflater, Inflater}

/** The one byte codec the binary walkers share: fixed-width field
  * reads and writes, and bounded zlib/raw-deflate.
  *
  * Readers take (bytes, offset) and keep the JVM's own bounds check —
  * a read past the end throws `ArrayIndexOutOfBoundsException`, which
  * every walker's entry already turns into its documented degrade.
  * Unsigned 32-bit fields read as `Long` (`u32*`); `i32*` is the same
  * four bytes as a signed `Int`, for fields the formats define as
  * two's complement or that callers compare bit-for-bit.
  *
  * [[inflate]] is all-or-null: corruption, truncation, a needed preset
  * dictionary and output past `maxOut` all return null, and it never
  * throws. Callers keep their own policy on what follows the deflate
  * stream by checking [[Inflated.consumed]].
  */
private[graft] object Bytes {

  def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF

  def u16le(b: Array[Byte], o: Int): Int = (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
  def u24le(b: Array[Byte], o: Int): Int = u16le(b, o) | (b(o + 2) & 0xFF) << 16
  def i32le(b: Array[Byte], o: Int): Int = u24le(b, o) | (b(o + 3) & 0xFF) << 24
  def u32le(b: Array[Byte], o: Int): Long = i32le(b, o) & 0xFFFFFFFFL
  def u64le(b: Array[Byte], o: Int): Long = u32le(b, o) | u32le(b, o + 4) << 32

  def u16be(b: Array[Byte], o: Int): Int = (b(o) & 0xFF) << 8 | (b(o + 1) & 0xFF)
  def u24be(b: Array[Byte], o: Int): Int = u16be(b, o) << 8 | (b(o + 2) & 0xFF)
  def i32be(b: Array[Byte], o: Int): Int = u24be(b, o) << 8 | (b(o + 3) & 0xFF)
  def u32be(b: Array[Byte], o: Int): Long = i32be(b, o) & 0xFFFFFFFFL
  def u64be(b: Array[Byte], o: Int): Long = u32be(b, o) << 32 | u32be(b, o + 4)

  /** The low `n` bytes of `v`, least significant first. */
  def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(k => (v >>> (8 * k)).toByte)

  /** The low `n` bytes of `v`, most significant first. */
  def be(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(k => (v >>> (8 * (n - 1 - k))).toByte)

  /** One inflated stream: its output and the input bytes it used,
    * counted from the `off` it started at.
    */
  final case class Inflated(bytes: Array[Byte], consumed: Int)

  /** Inflate the deflate stream starting at `b(off)` — zlib-framed
    * (RFC 1950), or raw (RFC 1951) when `raw`. Null on corruption,
    * truncation, a preset-dictionary stream, or output past `maxOut`
    * bytes (exactly `maxOut` passes). Bytes after the stream's end are
    * left alone and reported through `consumed`.
    */
  def inflate(b: Array[Byte], off: Int, raw: Boolean, maxOut: Long): Inflated = {
    if (b == null || off < 0 || off > b.length) return null
    val inf = new Inflater(raw)
    try {
      inf.setInput(b, off, b.length - off)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // no progress: the input ran out or a dictionary is needed
        if (n == 0 && !inf.finished()) return null
        if (out.size().toLong + n > maxOut) return null
        out.write(buf, 0, n)
      }
      Inflated(out.toByteArray, inf.getBytesRead.toInt)
    } catch {
      case _: DataFormatException => null
    } finally inf.end()
  }

  /** Deflate `data` at the default level — zlib-framed, or raw when
    * `raw`. The fixture writers' encoder twin of [[inflate]].
    */
  def deflate(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    try {
      d.setInput(data)
      d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
