package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{AuditJson, Sessionize}
import graft.sources.AuditSource
import graft.streaming.AuditSessionPipeline

/** Correctness accounting: every check is one attempted operation. */
final class Checks {
  var attempted, failed = 0L
  def apply(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Exception => Main.log(s"$what threw: $e"); false
    }
    if (!good) { failed += 1; Main.log(s"CHECK FAILED: $what") }
  }
}

/** One timed pass: its wall time and the times of the steps inside it. */
final case class Pass(wallMs: Double, opMs: Seq[Double])

/** A closed-loop workload with one caller: set-up writes the inputs, then
  * passes run back to back, each starting when the previous one ends.
  */
trait Workload {
  /** Write this run's inputs under `dir` (a fresh directory). */
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Records one pass feeds to the program. */
  def eventsPerPass: Long
  /** The warm-up pass: runs the workload once and checks every output. */
  def verify(spark: SparkSession, checks: Checks): Unit
  /** Untimed passes after [[verify]], so JIT compilation has settled. */
  def extraWarmPasses: Int = 0
  def pass(spark: SparkSession, checks: Checks): Pass
  /** Per-layer figures of the traced window that only this workload has. */
  def layers(spark: SparkSession, passes: Int): Map[String, Double] = Map.empty
  /** A line about the generated inputs, for the log. */
  def describe: String
}

object Workloads {

  val GapSeconds: Long = graft.queries.SessionQueries.GapSeconds
  val GapMs: Long = GapSeconds * 1000L
  /** 2024-01-01T00:00:00Z */
  val StartMs: Long = 1704067200000L

  /** The registry gates the `gates` workload runs, in order. */
  val GateNames: Seq[String] = Seq("q_dedup_canonical", "q_dedup_clusters")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def micros(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  def byName(name: String): Workload = name match {
    case "kernel" => new Kernel
    case "backfill" => new Backfill
    case "stream" => new Stream
    case "gates" => new Gates
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Shared per-layer figures of the audit-tree workloads. */
  def sessionizeLayers(): Map[String, Double] = {
    val ops = Trace.counters.sessionOps.toSeq
    if (ops.isEmpty) Map.empty
    else {
      val last = ops.last
      Map(
        "sessionize.partial_rows_in" -> last.partialIn.toDouble,
        "sessionize.partial_rows_out" -> last.partialOut.toDouble,
        "sessionize.combine_ratio" -> (if (last.partialIn > 0) last.partialOut.toDouble / last.partialIn else 0.0),
        "sessionize.agg_time_ms" -> Trace.median(ops.map(_.aggTimeMs.toDouble)),
        "sessionize.peak_memory_bytes" -> last.peakMemory.toDouble,
        "sessionize.sessions" -> last.sessions.toDouble,
        "sessionize.events_per_session" ->
          (if (last.sessions > 0) last.partialIn.toDouble / last.sessions else 0.0))
    }
  }

  // ------------------------------------------------------------- kernel

  /** `Sessionize.deniedCounts` with `SparkEntry.entry`'s parameters over
    * typed events in parquet; each pass collects the result and checks it.
    */
  final class Kernel extends Workload {
    val N = 400000
    val Users = 1000
    private var path: String = _
    private var expected: Array[String] = _
    private var stats = ""

    def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
      val ev = Gen.kernelEvents(seed, N, Users, zipfS = 1.3, StartMs, 2 * Gen.DayMs)
      path = dir.resolve("events.parquet").toString
      val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val (key, ts, denied, weight) = (ev.key, ev.tsMs, ev.denied, ev.weight)
      val rows = spark.sparkContext.parallelize(0 until N, 4).map { i =>
        Row(i.toLong, new java.sql.Timestamp(ts(i)), key(i).toLong,
          if (denied(i)) "error" else if (i % 3 == 0) "click" else "view", weight(i) / 100.0)
      }
      spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
      val ref = Reference.sessions(ev, GapMs)
      // denies are cents here: the kernel sums value (a 2-decimal number)
      expected = ref.kept.map(s => s"${s.key}|${s.denies}|${s.startMs * 1000}|${s.endMs * 1000}").sorted
      val bytes = Files.walk(dir).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      stats = f"events=$N users=$Users bytes=$bytes sessions=${ref.sessions} " +
        f"events_per_session=${N.toDouble / ref.sessions}%.1f denied_sessions=${ref.kept.length}"
    }

    def eventsPerPass: Long = N
    def describe: String = stats
    override def extraWarmPasses: Int = 3

    private def run(spark: SparkSession): Array[Row] = {
      val events = Trace.span("spark.read")(spark.read.parquet(path))
      val df = Trace.span("sessionize.deniedCounts")(Sessionize.deniedCounts(
        events, timeCol = "ts", keyCol = "user_id", gap = s"$GapSeconds seconds",
        denied = col("event_type") === "error", weight = col("value").cast(DecimalType(18, 4))))
      Trace.span("spark.collect")(df.collect())
    }

    private def check(rows: Array[Row], checks: Checks): Unit =
      checks("kernel sessions equal the gaps-and-islands reference") {
        rows.map { r =>
          val cents = r.getDecimal(1).movePointRight(2).longValueExact
          s"${r.getLong(0)}|$cents|${micros(r.getTimestamp(2))}|${micros(r.getTimestamp(3))}"
        }.sorted.sameElements(expected)
      }

    def verify(spark: SparkSession, checks: Checks): Unit = check(run(spark), checks)

    def pass(spark: SparkSession, checks: Checks): Pass = {
      val (rows, ms) = timed(Trace.span("kernel.pass")(run(spark)))
      check(rows, checks)
      Pass(ms, Seq(ms))
    }

    override def layers(spark: SparkSession, passes: Int): Map[String, Double] = sessionizeLayers()
  }

  // ------------------------------------------------------ audit trees

  abstract class TreeWorkload extends Workload {
    def days: Int
    def filesPerDay: Int
    def linesPerFile: Int
    def users: Int
    def zipfS: Double
    protected var tree: Gen.Tree = _
    protected var root: String = _

    def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
      tree = Gen.auditTree(dir.resolve("audit"), seed, days, filesPerDay, linesPerFile, users,
        zipfS, malformedPerMille = 10, keylessPerMille = 5, latePerMille = 4, GapMs, StartMs)
      root = tree.root.toString
    }

    def eventsPerPass: Long = tree.lines

    def describe: String = {
      val sessions = Reference.sessions(tree.all, GapMs).sessions
      f"files=${tree.files} lines=${tree.lines} bytes=${tree.bytes} users=${tree.users} " +
        f"sessions=$sessions events_per_session=${tree.all.size.toDouble / sessions}%.2f " +
        f"malformed=${tree.malformed} keyless=${tree.keyless} late=${tree.late}"
    }

    protected def expectedLines(ev: Gen.Events, keep: Reference.Session => Boolean): Array[String] =
      Reference.sessions(ev, GapMs).kept.filter(keep)
        .map(s => s"user='${Gen.userName(s.key)}' denies=${s.denies} start=${s.startMs} end=${s.endMs}")
        .sorted
  }

  /** The batch twin: `AuditSource.batch` → `AuditSessionPipeline.transform`
    * → the `noop` sink, over a sparse-to-moderate session tree.
    */
  final class Backfill extends TreeWorkload {
    val days = 8
    val filesPerDay = 4
    val linesPerFile = 3000
    val users = 20000
    val zipfS = 0.9
    override def extraWarmPasses: Int = 2

    private def transformed(spark: SparkSession): DataFrame = {
      val lines = Trace.span("sources.batch")(AuditSource.batch(spark, root))
      Trace.span("stream.transform")(AuditSessionPipeline.transform(lines, GapSeconds))
    }

    def verify(spark: SparkSession, checks: Checks): Unit = {
      val expected = expectedLines(tree.all, _ => true)
      checks("backfill sessions equal the gaps-and-islands reference") {
        Sessionize.formatResults(transformed(spark)).collect().map(_.getString(0)).sorted
          .sameElements(expected)
      }
      checks("AuditJson.parseStats equals the generator's counts") {
        val s = parseStats(spark)
        val want = (tree.lines, tree.all.size.toLong, tree.malformed, tree.keyless)
        val got = (s.getLong(0), s.getLong(3), s.getLong(1), s.getLong(2))
        if (got != want) Main.log(s"parseStats $got, generator $want")
        got == want
      }
    }

    private def parseStats(spark: SparkSession): Row =
      Trace.span("audit_json.parseStats") {
        AuditJson.parseStats(AuditSource.batch(spark, root))
          .select("n_lines", "n_corrupt", "n_missing_user", "n_good").head()
      }

    def pass(spark: SparkSession, checks: Checks): Pass = {
      val (_, ms) = timed(Trace.span("backfill.pass")(Trace.span("spark.noop")(noop(transformed(spark)))))
      Pass(ms, Seq(ms))
    }

    override def layers(spark: SparkSession, passes: Int): Map[String, Double] = {
      val (s, parseMs) = timed(parseStats(spark))
      val (_, readMs) = timed(Trace.span("sources.read")(noop(AuditSource.batch(spark, root))))
      sessionizeLayers() ++ Map(
        "audit_json.parse_s" -> parseMs / 1000,
        "audit_json.rows_good" -> s.getLong(3).toDouble,
        "audit_json.rows_corrupt" -> s.getLong(1).toDouble,
        "audit_json.rows_missing_user" -> s.getLong(2).toDouble,
        "sources.read_s" -> readMs / 1000)
    }
  }

  /** The same pipeline as a Structured Streaming query drained with
    * `Trigger.AvailableNow`, one file per trigger, into the exactly-once
    * files sink with a checkpoint.
    */
  final class Stream extends TreeWorkload {
    val days = 3
    val filesPerDay = 2
    val linesPerFile = 4000
    val users = 5000
    val zipfS = 0.9
    val MaxFilesPerTrigger = 1
    private var work: Path = _
    private var drains = 0
    private var lastProgress: Seq[StreamingQueryProgress] = Nil
    private var lastSinkRows = 0L

    override def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
      super.setup(spark, dir, seed)
      work = dir
    }

    private def drain(spark: SparkSession, checks: Checks): (Seq[StreamingQueryProgress], Double) = {
      drains += 1
      val out = work.resolve(s"sink-$drains").toString
      val config = AuditSessionPipeline.Config(
        auditPath = root, pollSeconds = 240, minDate = None, gapSeconds = GapSeconds,
        output = "files", checkpoint = Some(work.resolve(s"checkpoint-$drains").toString),
        kafkaTopic = None, kafkaOptions = Map.empty, outputPath = Some(out))
      val (progress, ms) = timed(Trace.span("stream.drain") {
        val lines = Trace.span("sources.stream")(AuditSource.stream(spark, root, Some(MaxFilesPerTrigger)))
        val q = AuditSessionPipeline.writer(AuditSessionPipeline.formatted(lines, GapSeconds), config)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        q.exception.foreach(e => throw e)
        q.recentProgress.toSeq
      })
      val wm = progress.flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
        .fold(Long.MinValue)(w => Instant.parse(w).toEpochMilli)
      val expected = expectedLines(tree.onTime, _.endMs <= wm)
      checks("stream output equals the batch twin's closed sessions without late lines") {
        val got = spark.read.parquet(out).collect().map(_.getString(0)).sorted
        lastSinkRows = got.length
        if (got.length != expected.length)
          Main.log(s"stream rows ${got.length}, expected ${expected.length}")
        got.sameElements(expected)
      }
      checks("rows dropped by the watermark equal the late lines written") {
        val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        if (dropped != tree.late) Main.log(s"dropped $dropped, late ${tree.late}")
        dropped == tree.late
      }
      (progress, ms)
    }

    def verify(spark: SparkSession, checks: Checks): Unit = drain(spark, checks)

    def pass(spark: SparkSession, checks: Checks): Pass = {
      val (progress, ms) = drain(spark, checks)
      lastProgress = progress
      Pass(ms, Trace.phaseMs(progress, "triggerExecution"))
    }

    override def layers(spark: SparkSession, passes: Int): Map[String, Double] = {
      // the listener's record of the last traced drain
      val runId = lastProgress.lastOption.map(_.runId)
      val ps = Trace.counters.synchronized(Trace.counters.progress.toList).filter(p => runId.contains(p.runId))
      val ops = ps.flatMap(_.stateOperators)
      def p50(phase: String) = Trace.median(Trace.phaseMs(ps, phase))
      // newest event time seen minus the final watermark
      def times(key: String) = ps.flatMap(p => Option(p.eventTime.get(key))).map(Instant.parse(_).toEpochMilli)
      val lagS = (for (mx <- times("max").maxOption; wm <- times("watermark").lastOption)
        yield (mx - wm) / 1000.0).getOrElse(0.0)
      Map(
        "sources.latest_offset_ms_p50" -> p50("latestOffset"),
        "sources.get_batch_ms_p50" -> p50("getBatch"),
        "stream.triggers" -> ps.size.toDouble,
        "stream.trigger_ms_p90" -> Trace.quantile(Trace.phaseMs(ps, "triggerExecution"), 0.9),
        "stream.add_batch_ms_p50" -> p50("addBatch"),
        "stream.query_planning_ms_p50" -> p50("queryPlanning"),
        "stream.wal_commit_ms_p50" -> p50("walCommit"),
        "stream.commit_offsets_ms_p50" -> p50("commitOffsets"),
        "stream.state_rows" -> ps.lastOption.fold(0.0)(_.stateOperators.map(_.numRowsTotal).sum.toDouble),
        "stream.state_memory_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L).toDouble,
        "stream.state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
        "stream.state_rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
        "stream.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
        "stream.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "stream.watermark_lag_s" -> lagS,
        "stream.sink_rows" -> lastSinkRows.toDouble)
    }
  }

  // -------------------------------------------------------------- gates

  /** Registry gates through `SparkEntry.queries`, each materialised with a
    * `noop` write, over a fixed generated `documents` table.
    */
  final class Gates extends Workload {
    val Names: Seq[String] = GateNames
    val Docs = 500
    private var dir: String = _

    /** Row count and order-independent hash of each gate on the fixture. */
    private lazy val expected: Map[String, (Long, String)] = {
      val in = getClass.getResourceAsStream("/perfbench/gates.tsv")
      val text = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.split('\n').filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split('\t')
        f(0) -> (f(1).toLong, f(2))
      }.toMap
    }

    def setup(spark: SparkSession, dir0: Path, seed: Long): Unit = {
      dir = dir0.resolve("corpus").toString
      Gen.documents(spark, s"$dir/documents.parquet", Docs)
    }

    def eventsPerPass: Long = Docs.toLong * Names.size
    override def extraWarmPasses: Int = 2
    def describe: String = s"gates=${Names.mkString(",")} documents=$Docs"

    def verify(spark: SparkSession, checks: Checks): Unit =
      for (name <- Names) checks(s"gate $name row count and hash match the recorded values") {
        val rows = SparkEntry.queries(name)(spark, dir).collect()
        val got = (rows.length.toLong, RowHash.of(rows))
        if (!expected.get(name).contains(got))
          Main.log(s"gate $name: rows=${got._1} hash=${got._2}, recorded ${expected.get(name)}")
        expected.get(name).contains(got)
      }

    def pass(spark: SparkSession, checks: Checks): Pass = {
      val ops = Names.map { name =>
        val (_, ms) = timed(Trace.span(s"gates.$name") {
          val df = Trace.span("gates.build")(SparkEntry.queries(name)(spark, dir))
          Trace.span("gates.exec")(noop(df))
        })
        ms
      }
      Main.log(Names.zip(ops).map { case (n, ms) => f"$n ${ms / 1000}%.2f s" }.mkString(", "))
      Pass(ops.sum, ops)
    }

    override def layers(spark: SparkSession, passes: Int): Map[String, Double] = {
      val spans = Trace.spanList
      val children = spans.groupBy(_.parent)
      def under(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(s => under(s.id))
      val jobs = Trace.counters.synchronized(Trace.counters.jobsBySpan.toMap)
      val perGate = Names.flatMap { name =>
        val mine = spans.filter(_.name == s"gates.$name")
        val nJobs = mine.flatMap(s => under(s.id)).map(jobs.getOrElse(_, 0L)).sum
        Seq(
          s"gates.$name.wall_s" -> Trace.median(mine.map(s => (s.endNs - s.startNs) / 1e9)),
          s"gates.$name.jobs" -> nJobs.toDouble / math.max(1, mine.size))
      }
      def perPassS(span: String) =
        spans.filter(_.name == span).map(s => (s.endNs - s.startNs) / 1e9).sum / math.max(1, passes)
      val byName = perGate.toMap
      byName ++ Map(
        "gates.build_s" -> perPassS("gates.build"),
        "gates.exec_s" -> perPassS("gates.exec"),
        "gates.jobs" -> Names.map(n => byName(s"gates.$n.jobs")).sum)
    }
  }
}

/** Order-independent hash of collected rows: the sum of a 64-bit hash of
  * each row's canonical rendering (binary as hex, maps sorted).
  */
object RowHash {
  import scala.util.hashing.MurmurHash3

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    var sum = 0L
    for (r <- rows) {
      val s = render(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x0bad) & 0xffffffffL)
    }
    f"$sum%016x"
  }
}
