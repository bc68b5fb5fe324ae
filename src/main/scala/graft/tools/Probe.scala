package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.queries.Q

/** Gate timer: `runMain graft.tools.Probe <sfDir> <q1,q2,…> [reps] [copies]`.
  *
  * Runs the named [[SparkEntry.queries]] gates in order in one session
  * and prints, per gate, the median/min/max wall seconds of `reps`
  * (default 1) `count()` passes and the row count. `copies` (default 1)
  * is a comma list of scale factors: before each factor k the gates'
  * fixture is rewritten with `documents`, `embeddings` and `events`
  * replicated ×k (see [[fixture]]), and after the last factor each gate's
  * log-log growth exponent of median time over k is printed — ~1 is
  * linear in the input, ~0 flat, > 1 super-linear.
  *
  * `graft.Bench`, [[Smoke]] and [[Explain]] share its [[withSession]];
  * `graft.Bench` also times with [[time]].
  */
object Probe {

  /** Tables replicated by [[fixture]], each with its id columns. */
  val Replicated: Seq[(String, Seq[String])] = Seq(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <q1,q2,...> [reps] [copies]")
    val sfDir = args(0)
    val gates = args(1).split(',').map(_.trim).toSeq.map(n => n -> SparkEntry.queries(n))
    val reps = args.lift(2).fold(1)(_.toInt)
    val copies = args.lift(3).fold(Seq(1))(_.split(',').map(_.trim.toInt).toSeq)
    withSession("ERROR") { spark =>
      warm(spark, sfDir)
      val medians = copies.flatMap { k =>
        val dir = fixture(spark, sfDir, k)
        gates.flatMap { case (name, fn) =>
          val runs = (1 to reps).flatMap(_ => time(s"[probe] $name x$k")(fn(spark, dir)))
          Option.when(runs.size == reps) {
            val secs = runs.map(_._1).sorted
            val median = secs(secs.size / 2)
            println(f"[probe] $name%-28s x$k%-3d median=$median%.2f min=${secs.head}%.2f " +
              f"max=${secs.last}%.2f s  (${runs.head._2} rows)")
            (name, k, median)
          }
        }
      }
      gates.foreach { case (name, _) =>
        val points = medians.collect { case (`name`, k, s) => (k, s) }
        if (points.map(_._1).distinct.size > 1)
          println(f"[probe] $name%-28s growth exponent " +
            f"${growthExponent(points.map { case (k, s) => (k.toDouble, s) })}%.2f " +
            s"over x${points.map(_._1).mkString(",x")}")
      }
    }
  }

  /** Runs `body` on `GraftSession.local(SPARK_GRAFT_CPUS)` (default 4
    * cores) at the given log level, then stops the session — unless it
    * was already running in this JVM, where stopping would pull it from
    * under its owner.
    */
  def withSession[A](logLevel: String)(body: SparkSession => A): A = {
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel(logLevel)
    try body(spark) finally if (!preexisting) spark.stop()
  }

  /** Warms the JVM paths every gate shares (parquet reader, codegen,
    * shuffle) so the first timed gate isn't charged for them.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count(): Unit

  /** Wall seconds and row count of one `count()` of `gate`, timed from
    * the call that builds the frame (so eager work inside a gate's `run`
    * is included). A throw prints `<label> FAILED: <message>` to stderr and
    * yields None.
    */
  def time(label: String)(gate: => DataFrame): Option[(Double, Long)] = {
    val t0 = System.nanoTime()
    try {
      val rows = gate.count()
      Some(((System.nanoTime() - t0) / 1e9, rows))
    } catch {
      case e: Throwable =>
        System.err.println(s"$label FAILED: ${e.getMessage}")
        None
    }
  }

  /** Least-squares slope of ln(seconds) over ln(k): 1.0 when time is
    * proportional to k, 0.0 when flat.
    */
  def growthExponent(points: Seq[(Double, Double)]): Double = {
    val xs = points.map(p => math.log(p._1))
    val ys = points.map(p => math.log(p._2))
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
  }

  /** A scratch copy of `sfDir` at scale k: each [[Replicated]] table is k
    * copies of itself with every id column of copy c shifted by c × one
    * shift shared by all those columns (ids stay unique, and keys that
    * match across tables at ×1 — `doc_id` = `vec_id` — still match);
    * every other entry is a symbolic link to the original. Deleted on
    * JVM exit.
    */
  def fixture(spark: SparkSession, sfDir: String, k: Int): String = {
    val dir = Q.scratch(s"probe_x$k")
    // as in Q.events: a TIMESTAMP(NANOS) `ts` reads (and is rewritten)
    // as a long, which Q.events then adapts exactly as on the original
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = Replicated.map { case (t, ids) =>
      (t, ids, spark.read.parquet(s"$sfDir/$t.parquet"))
    }
    val shift = 1L + tables.flatMap { case (_, ids, df) =>
      val r = df.select(ids.map(c => max(col(c))): _*).head()
      ids.indices.map(r.getLong)
    }.max
    tables.foreach { case (t, ids, df) =>
      (0 until k).map { c =>
        ids.foldLeft(df)((d, id) => d.withColumn(id, col(id) + lit(c * shift)))
      }.reduce(_ union _).write.parquet(s"$dir/$t.parquet")
    }
    val replicated = Replicated.map(_._1 + ".parquet").toSet
    new java.io.File(sfDir).listFiles().filterNot(f => replicated(f.getName)).foreach { f =>
      Files.createSymbolicLink(Paths.get(dir, f.getName), f.toPath.toAbsolutePath)
    }
    dir
  }
}
