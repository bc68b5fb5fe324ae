package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bytes

/** The byte codec's contract, table-driven: every fixed-width reader
  * inverts its writer at the sign and width boundaries, and the
  * bounded inflate is all-or-null with the consumed count reported.
  */
class BytesSpec extends AnyFunSuite {

  test("field readers invert the writers at 0, 2^31 - 1, 2^31, 2^32 - 1 and the u64 high bit") {
    val values = Seq(0L, 0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL, 1L << 63, -1L)
    // (reader, width, big-endian, read as the unsigned field value)
    val readers: Seq[(String, Int, Boolean, (Array[Byte], Int) => Long)] = Seq(
      ("u8", 1, false, (b, o) => Bytes.u8(b, o).toLong),
      ("u16le", 2, false, (b, o) => Bytes.u16le(b, o).toLong),
      ("u24le", 3, false, (b, o) => Bytes.u24le(b, o).toLong),
      ("i32le", 4, false, (b, o) => Bytes.i32le(b, o) & 0xFFFFFFFFL),
      ("u32le", 4, false, Bytes.u32le),
      ("u64le", 8, false, Bytes.u64le),
      ("u16be", 2, true, (b, o) => Bytes.u16be(b, o).toLong),
      ("u24be", 3, true, (b, o) => Bytes.u24be(b, o).toLong),
      ("i32be", 4, true, (b, o) => Bytes.i32be(b, o) & 0xFFFFFFFFL),
      ("u32be", 4, true, Bytes.u32be),
      ("u64be", 8, true, Bytes.u64be))
    for (v <- values; (name, n, be, read) <- readers) {
      val field = if (be) Bytes.be(v, n) else Bytes.le(v, n)
      assert(field.length == n)
      // padded on both sides so an off-by-one read shows
      val b = Array[Byte](0x5A) ++ field ++ Array[Byte](0x5A)
      val mask = if (n == 8) -1L else (1L << (8 * n)) - 1
      assert(read(b, 1) == (v & mask), s"$name of ${v.toHexString}")
    }
    // signedness: i32* is two's complement, u32* never negative, u64*
    // carries the high bit into the sign
    val top = Bytes.le(0x80000000L, 4)
    assert(Bytes.i32le(top, 0) == Int.MinValue && Bytes.u32le(top, 0) == 0x80000000L)
    assert(Bytes.i32be(Bytes.be(0xFFFFFFFFL, 4), 0) == -1)
    assert(Bytes.u32be(Bytes.be(0xFFFFFFFFL, 4), 0) == 0xFFFFFFFFL)
    assert(Bytes.u64le(Bytes.le(1L << 63, 8), 0) == Long.MinValue)
    // byte order
    assert(Bytes.le(0x01020304L, 4).toSeq == Seq[Byte](4, 3, 2, 1))
    assert(Bytes.be(0x01020304L, 4).toSeq == Seq[Byte](1, 2, 3, 4))
    // a read past the end is the JVM's bounds check, which every
    // walker's entry turns into its degrade
    assertThrows[ArrayIndexOutOfBoundsException](Bytes.u32le(new Array[Byte](3), 0))
  }

  private val data = ("bounded inflate " * 64).getBytes("US-ASCII")

  test("inflate: framing, exact cap, truncation, trailing bytes, preset dictionary") {
    val cases: Seq[(String, Boolean)] = Seq(("zlib", false), ("raw", true))
    for ((framing, raw) <- cases) {
      val z = Bytes.deflate(data, raw)
      val ok = Bytes.inflate(z, 0, raw, data.length.toLong)
      assert(ok.bytes.sameElements(data) && ok.consumed == z.length, s"$framing round trip")
      // the other framing does not decode
      assert(Bytes.inflate(z, 0, !raw, Long.MaxValue) == null, s"$framing read as the other framing")
      // output of exactly maxOut passes; one byte more is null
      assert(Bytes.inflate(z, 0, raw, data.length - 1L) == null, s"$framing cap")
      // every truncation is null
      (0 until z.length).foreach { cut =>
        assert(Bytes.inflate(java.util.Arrays.copyOf(z, cut), 0, raw, Long.MaxValue) == null,
          s"$framing cut at $cut")
      }
      // trailing bytes are left alone and the stream's own length is
      // reported, also when the stream starts at an offset
      val framed = Array[Byte](9, 9, 9) ++ z ++ "junk".getBytes("US-ASCII")
      val mid = Bytes.inflate(framed, 3, raw, Long.MaxValue)
      assert(mid.bytes.sameElements(data) && mid.consumed == z.length, s"$framing trailing")
    }
    // FDICT: a zlib stream that needs a preset dictionary is null, not a
    // loop waiting for one
    val d = new java.util.zip.Deflater()
    d.setDictionary("bounded".getBytes("US-ASCII"))
    d.setInput(data); d.finish()
    val buf = new Array[Byte](4096)
    val n = d.deflate(buf)
    d.end()
    assert((buf(1) & 0x20) != 0, "fixture sets FDICT")
    assert(Bytes.inflate(java.util.Arrays.copyOf(buf, n), 0, raw = false, Long.MaxValue) == null)
    // a bomb stops at the cap
    val bomb = Bytes.deflate(new Array[Byte](1 << 20), raw = true)
    assert(Bytes.inflate(bomb, 0, raw = true, 64L << 10) == null)
    // junk, null and out-of-range offsets are null
    assert(Bytes.inflate("not deflate".getBytes("US-ASCII"), 0, raw = false, Long.MaxValue) == null)
    assert(Bytes.inflate(null, 0, raw = true, Long.MaxValue) == null)
    assert(Bytes.inflate(data, -1, raw = true, Long.MaxValue) == null)
    assert(Bytes.inflate(data, data.length + 1, raw = true, Long.MaxValue) == null)
  }
}
