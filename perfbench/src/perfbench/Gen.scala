package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything here is a pure function of its
  * seed: the same seed writes the same bytes.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 is the most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Events in column form: key, time (ms), denied flag, weight. */
  final class Events(val key: Array[Int], val tsMs: Array[Long],
      val denied: Array[Boolean], val weight: Array[Long]) {
    def size: Int = key.length
  }

  // ---------------------------------------------------------------- kernel

  /** Typed events for the kernel: Zipf-skewed users over `spanMs`, times
    * uniform. Head users are continuously active, so their sessions hold
    * thousands of events; `weight` is the event value in cents.
    */
  def kernelEvents(seed: Long, n: Int, users: Int, zipfS: Double,
      startMs: Long, spanMs: Long): Events = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(users, zipfS)
    val key = new Array[Int](n)
    val ts = new Array[Long](n)
    val denied = new Array[Boolean](n)
    val weight = new Array[Long](n)
    var i = 0
    while (i < n) {
      key(i) = zipf.sample(rng)
      ts(i) = startMs + rng.nextLong(spanMs)
      denied(i) = rng.nextInt(10) == 0
      weight(i) = 1 + rng.nextInt(10000)
      i += 1
    }
    new Events(key, ts, denied, weight)
  }

  // ----------------------------------------------------------- audit tree

  /** What the audit-tree generator wrote, line for line. */
  final case class Tree(
      root: Path,
      files: Int,
      lines: Long,
      bytes: Long,
      malformed: Long,
      keyless: Long,
      late: Long,
      users: Int,
      /** every keyed line, late ones included (the batch twin's input) */
      all: Events,
      /** the same, without the late lines (what the stream keeps) */
      onTime: Events)

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  private val DayFormat = DateTimeFormatter.BASIC_ISO_DATE.withZone(ZoneOffset.UTC)
  val DayMs: Long = 86400000L
  private val LateMs: Long = 2 * DayMs

  private val Repos = Array("cm_kafka", "cm_hive", "cm_hdfs", "cm_hbase", "cm_solr")
  private val RepoTypes = Array(9, 3, 1, 2, 8)
  private val Access = Array("describe", "publish", "consume", "select", "read", "write", "create")
  private val ResTypes = Array("topic", "table", "path", "column", "collection")
  private val Agents = Array("kafka", "hiveServer2", "hdfs", "hbaseRegional", "solr")
  private val Tags = Array("PII", "FINANCE", "RESTRICTED", "INTERNAL")

  /** User name for a Zipf rank: the head ranks are service principals. */
  def userName(rank: Int): String =
    if (rank < 8) f"svc-etl-$rank%02d" else f"user$rank%06d"

  /** Ranger audit record with the whole `graft.model.Audit` field set
    * plus one key the schema does not know (it must be ignored).
    */
  private def auditLine(sb: java.lang.StringBuilder, rng: SplittableRandom, user: String,
      tsMs: Long, denied: Boolean, count: Int, withUser: Boolean): Unit = {
    val r = rng.nextInt(Repos.length)
    sb.append("{\"repoType\":").append(RepoTypes(r))
      .append(",\"repo\":\"").append(Repos(r)).append('"')
    if (withUser) sb.append(",\"reqUser\":\"").append(user).append('"')
    sb.append(",\"evtTime\":\"").append(TsFormat.format(Instant.ofEpochMilli(tsMs))).append('"')
    val acc = Access(rng.nextInt(Access.length))
    sb.append(",\"access\":\"").append(acc).append('"')
      .append(",\"resource\":\"").append(ResTypes(r)).append('-').append(rng.nextInt(500)).append('"')
      .append(",\"resType\":\"").append(ResTypes(r)).append('"')
      .append(",\"action\":\"").append(acc).append('"')
      .append(",\"result\":").append(if (denied) 0 else 1)
      .append(",\"agent\":\"").append(Agents(r)).append('"')
      .append(",\"policy\":").append(rng.nextInt(200))
      .append(",\"policy_version\":").append(1 + rng.nextInt(9))
      .append(",\"enforcer\":\"").append(if (rng.nextInt(4) == 0) "hadoop-acl" else "ranger-acl").append('"')
      .append(",\"cliIP\":\"10.").append(rng.nextInt(256)).append('.').append(rng.nextInt(256))
      .append('.').append(rng.nextInt(256)).append('"')
      .append(",\"reqData\":\"").append(acc).append(" on ").append(ResTypes(r)).append(' ')
      .append(rng.nextInt(1 << 20)).append('"')
      .append(",\"agentHost\":\"node-").append(rng.nextInt(40)).append(".example.internal\"")
      .append(",\"logType\":\"RangerAudit\"")
      .append(",\"id\":\"").append(java.lang.Long.toHexString(rng.nextLong())).append("-0\"")
      .append(",\"seq_num\":").append(rng.nextInt(100000))
      .append(",\"event_count\":").append(count)
      .append(",\"event_dur_ms\":").append(rng.nextInt(50))
      .append(",\"tags\":[")
    if (rng.nextInt(3) == 0) sb.append('"').append(Tags(rng.nextInt(Tags.length))).append('"')
    sb.append("],\"cluster_name\":\"cl").append(1 + r % 2).append('"')
      .append(",\"additional_info\":\"{\\\"remote-ip\\\":\\\"10.0.0.1\\\"}\"}")
  }

  /** A dated `YYYYMMDD/` tree of Ranger audit JSON lines.
    *
    * File `k` covers its own time slot, so the event-time watermark of a
    * file-by-file stream advances with `k`. On top of the good lines it
    * writes exact counts of three kinds of bad line, all recorded:
    *   - malformed: the line is cut before its `reqUser` key;
    *   - key-less: well-formed, without `reqUser`;
    *   - late: well-formed and keyed, but more than 2 days (plus the
    *     session gap) older than the newest event of the file two slots
    *     earlier, so they go only in files after the watermark has
    *     advanced past them (with up to two files per trigger); each
    *     (user, time) pair is used once, so no two late rows merge.
    * File modification times increase with `k`, so a file stream reads
    * them in slot order.
    */
  def auditTree(root: Path, seed: Long, days: Int, filesPerDay: Int, linesPerFile: Int,
      users: Int, zipfS: Double, malformedPerMille: Int, keylessPerMille: Int,
      latePerMille: Int, gapMs: Long, startMs: Long): Tree = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(users, zipfS)
    val slotMs = DayMs / filesPerDay
    val nFiles = days * filesPerDay
    val (aK, aT, aD, aW) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Long],
      mutable.ArrayBuilder.make[Boolean], mutable.ArrayBuilder.make[Long])
    val lateIdx = mutable.ArrayBuilder.make[Int]
    val lateSeen = mutable.HashSet.empty[(Int, Long)]
    var idx = 0
    var (lines, bytes, malformed, keyless, late) = (0L, 0L, 0L, 0L, 0L)
    val maxTsOfFile = new Array[Long](nFiles)
    val sb = new java.lang.StringBuilder(1 << 20)
    val line = new java.lang.StringBuilder(1024)
    for (k <- 0 until nFiles) {
      sb.setLength(0)
      val slotStart = startMs + k * slotMs
      maxTsOfFile(k) = slotStart
      // late lines are only possible once files two slots back have
      // pushed the watermark beyond a whole late session
      val lateCeil = if (k >= 2) maxTsOfFile(k - 2) - LateMs - gapMs - 60000L else 0L
      for (_ <- 0 until linesPerFile) {
        line.setLength(0)
        val roll = rng.nextInt(1000)
        val rank = zipf.sample(rng)
        val denied = rng.nextInt(8) == 0
        val count = if (rng.nextInt(5) == 0) 1 + rng.nextInt(20) else 1
        if (roll < malformedPerMille) {
          auditLine(line, rng, userName(rank), slotStart + rng.nextLong(slotMs), denied, count, withUser = true)
          line.setLength(10 + rng.nextInt(line.indexOf("\"reqUser\"") - 10))
          malformed += 1
        } else if (roll < malformedPerMille + keylessPerMille) {
          auditLine(line, rng, "", slotStart + rng.nextLong(slotMs), denied, count, withUser = false)
          keyless += 1
        } else {
          val isLate = roll < malformedPerMille + keylessPerMille + latePerMille &&
            k >= 2
          val ts =
            if (isLate) lateCeil - rng.nextLong(DayMs)
            else slotStart + rng.nextLong(slotMs)
          // the streaming partial aggregate must not fold two late rows
          if (!isLate || lateSeen.add((rank, ts))) {
            auditLine(line, rng, userName(rank), ts, denied, count, withUser = true)
            aK += rank; aT += ts; aD += denied; aW += count
            if (isLate) { late += 1; lateIdx += idx }
            else if (ts > maxTsOfFile(k)) maxTsOfFile(k) = ts
            idx += 1
          }
        }
        if (line.length > 0) {
          sb.append(line).append('\n')
          lines += 1
        }
      }
      val dir = root.resolve(DayFormat.format(Instant.ofEpochMilli(slotStart)))
      Files.createDirectories(dir)
      val f = dir.resolve(f"audit-$k%05d.json")
      val data = sb.toString.getBytes(UTF_8)
      Files.write(f, data)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1600000000000L + k * 1000L))
      bytes += data.length
    }
    val all = new Events(aK.result(), aT.result(), aD.result(), aW.result())
    val lateSet = lateIdx.result().toSet
    val keep = (0 until all.size).filterNot(lateSet).toArray
    val onTime = new Events(keep.map(all.key), keep.map(all.tsMs), keep.map(all.denied), keep.map(all.weight))
    Tree(root, nFiles, lines, bytes, malformed, keyless, late, users, all, onTime)
  }

  // ---------------------------------------------------------------- gates

  private val Vocab = ("a the data query table row column key value part line order customer " +
    "join merge sort scan filter group agg window batch stream spark hash small big fast slow " +
    "vector").split(' ')
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh")

  /** The `documents` table the gates read, in the schema and shape of the
    * repository's test fixture: word-salad text over a small vocabulary,
    * with a few near-duplicate documents. Written from a fixed seed: the
    * gates' recorded row counts and hashes belong to exactly these bytes.
    */
  def documents(spark: SparkSession, path: String, docs: Int): Unit = {
    val rng = new SplittableRandom(20261017L)
    val texts = new Array[String](docs)
    val rows = (0 until docs).map { i =>
      val text =
        if (i > 10 && rng.nextInt(60) == 0) texts(rng.nextInt(i)) + " " + Vocab(rng.nextInt(Vocab.length))
        else Seq.fill(5 + rng.nextInt(76))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}", text.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }
}
