package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.queries.Q
import graft.tools.Probe

/** The gate timer: its scale-k fixture, its growth fit, and one run of
  * its main end to end.
  */
class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fixture x2: replicated tables double with unique ids and unchanged schemas; the rest are links") {
    val dir = Probe.fixture(spark, sf, 2)
    Probe.Replicated.foreach { case (t, ids) =>
      val orig = spark.read.parquet(s"$sf/$t.parquet")
      val rep = spark.read.parquet(s"$dir/$t.parquet")
      assert(rep.schema == orig.schema, t)
      assert(rep.count() == 2 * orig.count(), t)
      assert(rep.select(ids.head).distinct().count() == rep.count(), s"$t.${ids.head}")
    }
    // Q.events adapts on the rewritten `ts` exactly as on the original
    assert(Q.events(spark, dir).schema == Q.events(spark, sf).schema)
    // one shared shift: documents and embeddings still pair up by id
    def paired(d: String) = Q.t(spark, d, "documents")
      .join(Q.t(spark, d, "embeddings"), col("doc_id") === col("vec_id")).count()
    assert(paired(dir) == 2 * paired(sf))
    val replicated = Probe.Replicated.map(_._1 + ".parquet").toSet
    val others = new java.io.File(sf).listFiles().filterNot(f => replicated(f.getName))
    assert(others.nonEmpty)
    others.foreach { f =>
      val link = Paths.get(dir, f.getName)
      assert(Files.isSymbolicLink(link), f.getName)
      assert(Files.readSymbolicLink(link) == f.toPath.toAbsolutePath, f.getName)
    }
  }

  test("scratch cleanup removes a fixture's links without following them") {
    val target = Files.createTempDirectory("probe_spec_target")
    val kept = Files.write(target.resolve("part.parquet"), Array[Byte](1))
    val dir = Files.createTempDirectory("probe_spec_fixture")
    Files.createSymbolicLink(dir.resolve("orders.parquet"), target)
    Q.deleteTree(dir.toFile)
    assert(!Files.exists(dir, java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.exists(kept))
    Q.deleteTree(target.toFile)
  }

  test("growth exponent: 1.0 for time proportional to k, 0.0 for flat time") {
    val ks = Seq(1.0, 2.0, 4.0, 16.0)
    assert(math.abs(Probe.growthExponent(ks.map(k => (k, 0.3 * k))) - 1.0) < 1e-9)
    assert(math.abs(Probe.growthExponent(ks.map(k => (k, 0.3)))) < 1e-9)
  }

  test("main: one line per (gate, factor) and one exponent line per gate") {
    val touched = Seq(
      "spark.sql.session.timeZone",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled")
    val saved = touched.map(k => k -> spark.conf.getOption(k))
    val out = new java.io.ByteArrayOutputStream()
    try Console.withOut(out) {
      Probe.main(Array(sf, "q_sessionize,q_parse_json", "1", "1,2"))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sparkContext.setLogLevel("WARN")
    }
    // the shared session is not the tool's to stop
    assert(!spark.sparkContext.isStopped)
    val lines = out.toString("UTF-8").linesIterator.toSeq
    val Timed = """\[probe\] (\S+)\s+x(\d+)\s+median=.*\((\d+) rows\)""".r
    val Growth = """\[probe\] (\S+)\s+growth exponent -?\d+\.\d+ over x1,x2""".r
    val timed = lines.collect { case Timed(q, k, _) => (q, k.toInt) }
    assert(timed == Seq(("q_sessionize", 1), ("q_parse_json", 1),
      ("q_sessionize", 2), ("q_parse_json", 2)), lines.mkString("\n"))
    assert(lines.collect { case Growth(q) => q } == Seq("q_sessionize", "q_parse_json"),
      lines.mkString("\n"))
  }
}
