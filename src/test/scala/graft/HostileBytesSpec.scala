package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Hostile bytes through every binary walker, driver-local (no Spark
  * job). Each walker family's own fixture writers supply well-formed
  * payloads; seeded ScalaCheck samples then cut them at an offset, flip
  * one bit, or overwrite a 2- or 4-byte field (either byte order) with
  * 0, 0x7FFFFFFF or 0xFFFFFFFF — the values that break length and
  * count arithmetic. Offsets lean toward the first 128 bytes, where
  * the headers sit, and a sweep writes the three values at every even
  * offset of that header region too.
  *
  * Every call must return its documented degrade — a stage string, an
  * empty or completed-prefix sequence, a zeroed inventory row, or
  * null — and never throw. Anything a walker lets escape fails the
  * spec with the walker, the fixture and the mutation named.
  */
class HostileBytesSpec extends AnyFunSuite {

  import HostileBytesSpec._

  private def forAllSamples[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)) match {
        case Some(v) => body(v)
        case None => ()
      }
    }

  private val FieldValues = Seq(0L, 0x7FFFFFFFL, 0xFFFFFFFFL)

  private def mutationGen(len: Int): Gen[Mutation] = {
    val off = Gen.frequency(
      2 -> Gen.choose(0, len - 1),
      1 -> Gen.choose(0, math.min(len, 128) - 1))
    Gen.oneOf(
      off.map(Cut(_)),
      for (o <- off; bit <- Gen.choose(0, 7)) yield Flip(o, bit),
      for {
        o <- off
        v <- Gen.oneOf(FieldValues)
        w <- Gen.oneOf(2, 4)
        be <- Gen.oneOf(false, true)
      } yield Field(o, v, w, be))
  }

  private def headerSweep(len: Int): Seq[Mutation] =
    for {
      o <- 0 until math.min(len, 128) by 2
      v <- FieldValues
      w <- Seq(2, 4)
      be <- Seq(false, true)
    } yield Field(o, v, w, be)

  // ------------------------------------------------------ walker families

  private def walker[T](name: String)(call: Array[Byte] => T)(degrade: T => Boolean): Walker =
    Walker(name, call, r => degrade(r.asInstanceOf[T]))

  private def stageOk(stage: String, allowed: Set[String], payloadEmpty: Boolean): Boolean =
    allowed.contains(stage) && (stage == "ok" || payloadEmpty)

  private val cfbWalkers = Seq(
    walker("Cfb.parse")(Cfb.parse(_))(_ != null),
    walker("Doc.read")(Doc.read)(d =>
      stageOk(d.stage, Set("ok", "cfb", "encrypted", "fib", "clx", "part"), d.paragraphs.isEmpty)),
    walker("Ppt.read")(Ppt.read)(d =>
      stageOk(d.stage, Set("ok", "cfb", "encrypted", "part"), d.paragraphs.isEmpty)),
    walker("Xls.read")(Xls.read)(d =>
      stageOk(d.stage, Set("ok", "cfb", "encrypted", "biff", "part", "strings"), d.cells.isEmpty)),
    walker("Msg.read")(Msg.read)(d =>
      stageOk(d.stage, Set("ok", "cfb", "encrypted", "part"), d.subject == null && d.body == null)))

  private val cfbFixtures = Seq(
    "cfb two streams" -> Cfb.cfb(Seq(("Tiny", "mini stream".getBytes("UTF-8")),
      ("Big", Array.tabulate[Byte](5000)(i => (i * 7).toByte)))),
    "cfb encrypted ooxml" -> Cfb.encryptedOoxmlFixture(3L),
    "doc" -> Doc.doc(Seq("Hello legacy", "tab\there", "line\nbreak")),
    "ppt" -> Ppt.ppt(Seq(Seq("Title", "body text"), Seq("second slide"))),
    "xls" -> Xls.xls(Seq((2, Seq(("s", "b"), ("n", "2.5"))), (1, Seq(("s", "a"), ("l", "x")))),
      split = true),
    "xls biff5" -> Xls.xls(Seq((1, Seq(("l", "café"), ("n", "7")))), biff5 = true),
    "msg" -> Msg.msg("Re: budget", "dana", "see attached", Seq("r1"),
      rtfBody = "{\\rtf1 hello}", attachFiles = Seq(("a.txt", "payload".getBytes("UTF-8")))))

  private val zipWalker = walker("ZipShard.entries")(ZipShard.entries(_))(es =>
    es != null && es.forall(e => e.data.length.toLong == e.usize))

  private val zipMembers = Seq(("a.txt", "alpha " * 40), ("dir/", ""), ("b.bin", "beta"))
    .map { case (n, s) => (n, s.getBytes("UTF-8")) }

  private val zipFixtures = Seq(
    "zip deflate" -> ZipShard.zip(zipMembers),
    "zip stored" -> ZipShard.zip(zipMembers, deflate = false),
    "zip descriptor" -> ZipShard.zip(zipMembers, descriptor = true),
    "zip64 descriptor" -> ZipShard.zip(zipMembers, descriptor = true, zip64 = true))

  private val inventoryWalkers = Seq(
    walker("ContainerMeta.mp4Inventory")(ContainerMeta.mp4Inventory(7L, _))(_.media_id == 7L),
    walker("ContainerMeta.oggInventory")(ContainerMeta.oggInventory(7L, _))(_.media_id == 7L),
    walker("ContainerMeta.mkvInventory")(ContainerMeta.mkvInventory(7L, _))(_.media_id == 7L),
    walker("AudioMeta.inventory")(AudioMeta.inventory(7L, _))(_.media_id == 7L))

  private val inventoryFixtures =
    Seq(0L, 1L).map(s => s"mp4 $s" -> ContainerMeta.syntheticMp4(s)) ++
      Seq(0L, 1L).map(s => s"ogg $s" -> ContainerMeta.syntheticOgg(s)) ++
      Seq(0L, 1L).map(s => s"mkv $s" -> ContainerMeta.syntheticMkv(s)) ++
      Seq(0L, 1L, 2L, 3L).map(s => s"mpeg $s" -> AudioMeta.syntheticMpeg(s))

  private val compressedWalkers = Seq(
    walker("CompressedMeta.gunzipMembers")(CompressedMeta.gunzipMembers(_))(_ != null),
    walker("CompressedMeta.gunzipAll")(CompressedMeta.gunzipAll(_))(_ => true),
    walker("CompressedMeta.gzipInventory")(CompressedMeta.gzipInventory(7L, _))(_.media_id == 7L),
    walker("CompressedMeta.zstdInventory")(CompressedMeta.zstdInventory(7L, _))(_.media_id == 7L),
    walker("ZstdDecode.zstdMembers")(ZstdDecode.zstdMembers(_))(_ != null),
    walker("Warc.inflateZlib")(Warc.inflateZlib(_))(_ => true))

  private val text = "the quick brown fox jumps over the lazy dog ".getBytes("UTF-8")

  private val compressedFixtures = Seq(
    "gzip fname" -> CompressedMeta.syntheticGzip(0L),
    "gzip fextra fhcrc" -> CompressedMeta.syntheticGzip(1L),
    "gzip two members" -> (CompressedMeta.gzipMember(text) ++ CompressedMeta.gzipMember(text.reverse)),
    "zstd single segment" -> CompressedMeta.syntheticZstd(0L),
    "zstd rle skippable raw" -> CompressedMeta.syntheticZstd(1L),
    "zstd raw" -> ZstdDecode.zstdFrameRaw(text, checksum = true),
    "zstd rle" -> ZstdDecode.zstdFrameRle('z', 300, checksum = true),
    "zstd entropy" -> ZstdDecode.zstdFrameEntropy(5, 7),
    "zstd sequences" -> ZstdDecode.zstdFrameSequences("word ".getBytes("UTF-8"), 9, "end.".getBytes("UTF-8")),
    "zstd huffman" -> ZstdDecode.zstdFrameHuffman("abcdabcaab".getBytes("US-ASCII"), fourStream = true),
    "zlib" -> Warc.zlibDeflate(text))

  private val avroSchema =
    """{"type":"record","name":"R","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"},
      |{"name":"ok","type":"boolean"},{"name":"tag","type":"bytes"}]}""".stripMargin

  private val avroWalker = walker("Avro.read")(Avro.read(_))(r =>
    stageOk(r.stage, Set("ok", "parse", "schema", "codec"), r.records.isEmpty))

  private val avroFixtures = Seq("null", "deflate").map { codec =>
    s"avro $codec" -> Avro.ocf(avroSchema,
      (0 until 5).map(i => Seq(Avro.AVLong(i * 10L), Avro.AVStr(s"row $i"),
        Avro.AVBool(i % 2 == 0), Avro.AVBytes(Array((i + 1).toByte)))),
      codec = codec, blockSize = 2)
  }

  // --------------------------------------------------------------- runner

  /** Run `ws` over `bytes`; the failure message names what escaped. */
  private def survive(ws: Seq[Walker], fixture: String, what: String, bytes: Array[Byte]): Unit =
    ws.foreach { w =>
      val r =
        try w.call(bytes)
        catch { case t: Throwable => fail(s"${w.name} threw $t on $fixture / $what") }
      assert(w.degrade(r), s"${w.name} returned $r on $fixture / $what: not its documented degrade")
    }

  private def family(name: String, ws: Seq[Walker], fixtures: Seq[(String, Array[Byte])]): Unit =
    test(s"hostile bytes: $name walkers degrade and never throw") {
      fixtures.foreach { case (fx, bytes) =>
        // the intact fixture first: it must parse, so the mutants start
        // from a payload each walker accepts
        survive(ws, fx, "intact", bytes)
        survive(ws, fx, "empty", Array.emptyByteArray)
        headerSweep(bytes.length).foreach(m => survive(ws, fx, m.toString, m(bytes)))
        forAllSamples(mutationGen(bytes.length), 300)(m => survive(ws, fx, m.toString, m(bytes)))
      }
    }

  family("CFB (Cfb, Doc, Ppt, Xls, Msg)", cfbWalkers, cfbFixtures)
  family("zip", Seq(zipWalker), zipFixtures)
  family("media inventory (ContainerMeta, AudioMeta)", inventoryWalkers, inventoryFixtures)
  family("gzip/zstd/zlib", compressedWalkers, compressedFixtures)
  family("Avro", Seq(avroWalker), avroFixtures)

  /** `n` container headers of `hdr` bytes each, every one enclosing the
    * rest: `header(k, size)` writes level k's header for a body running
    * to the end.
    */
  private def nested(n: Int, hdr: Int)(header: (Int, Long) => Array[Byte]): Array[Byte] = {
    val b = new Array[Byte](hdr * n)
    (0 until n).foreach { k =>
      val h = header(k, hdr.toLong * (n - k))
      System.arraycopy(h, 0, b, hdr * k, h.length)
    }
    b
  }

  // regression: both recursive box walks overflowed the stack (an
  // Error, which their `case _: Exception` degrade never caught) on a
  // crafted chain of container headers before their depth guard
  test("hostile bytes: 200k nested mp4 boxes degrade (was StackOverflowError)") {
    val ftyp = Bytes.be(16, 4) ++ "ftypisom".getBytes("US-ASCII") ++ new Array[Byte](4)
    val moovs = nested(200000, 8)((_, size) => Bytes.be(size, 4) ++ "moov".getBytes("US-ASCII"))
    survive(inventoryWalkers, "nested mp4", "200000 moov levels", ftyp ++ moovs)
    assert(ContainerMeta.mp4Inventory(7L, ftyp ++ moovs).brand == "isom")
  }

  test("hostile bytes: 200k nested AVI LISTs degrade (was StackOverflowError)") {
    val lists = nested(200000, 12)((_, size) =>
      "LIST".getBytes("US-ASCII") ++ Bytes.le(size - 8, 4) ++ "movi".getBytes("US-ASCII"))
    val avi = "RIFF".getBytes("US-ASCII") ++ Bytes.le(lists.length + 4L, 4) ++
      "AVI ".getBytes("US-ASCII") ++ lists
    val avWalker = walker("Multimodal.decodeAviMjpeg")(Multimodal.decodeAviMjpeg)(_.isEmpty)
    survive(Seq(avWalker), "nested avi", "200000 LIST levels", avi)
  }

  test("hostile bytes: null payloads degrade") {
    val all = cfbWalkers ++ Seq(zipWalker) ++ inventoryWalkers ++ compressedWalkers ++ Seq(avroWalker)
    survive(all, "null", "null", null)
  }
}

object HostileBytesSpec {

  // ------------------------------------------------------------ mutations

  sealed trait Mutation { def apply(b: Array[Byte]): Array[Byte] }

  final case class Cut(at: Int) extends Mutation {
    def apply(b: Array[Byte]): Array[Byte] = java.util.Arrays.copyOf(b, at)
  }

  final case class Flip(at: Int, bit: Int) extends Mutation {
    def apply(b: Array[Byte]): Array[Byte] = {
      val c = b.clone(); c(at) = (c(at) ^ (1 << bit)).toByte; c
    }
  }

  final case class Field(at: Int, value: Long, width: Int, bigEndian: Boolean)
      extends Mutation {
    def apply(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      val f = if (bigEndian) Bytes.be(value, width) else Bytes.le(value, width)
      System.arraycopy(f, 0, c, at, math.min(width, c.length - at))
      c
    }
  }

  /** One entry point and its documented degrade, as a check on the
    * value it returned.
    */
  final case class Walker(name: String, call: Array[Byte] => Any, degrade: Any => Boolean)
}
