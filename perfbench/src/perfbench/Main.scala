package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --result FILE --record FILE`.
  *
  * Set-up starts the session and writes the inputs three times (the
  * median counts), then warms up with one checked pass (plus, where a pass
  * is short, untimed ones). The untraced run then repeats passes for
  * `--seconds` and reports the end-to-end metrics. The traced run spends the first half untraced, installs the
  * listeners, spends the second half traced, and reports the per-layer
  * metrics plus the traced ÷ untraced pass-time ratio; it also writes
  * the per-layer record with every span to `--record`.
  */
object Main {

  val SetupCycles = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val checks = new Checks

    // ---- set-up, several times; the last session and inputs are kept
    var spark: SparkSession = null
    val cycles = (1 to SetupCycles).map { i =>
      val (_, ms) = Workloads.timed {
        if (spark != null) stopSession(spark)
        spark = session(cores, work)
        val dir = work.resolve("inputs")
        deleteTree(dir)
        Files.createDirectories(dir)
        workload.setup(spark, dir, seed)
      }
      ms / 1000
    }
    val (_, warmMs) = Workloads.timed {
      workload.verify(spark, checks)
      for (_ <- 1 to workload.extraWarmPasses) workload.pass(spark, checks)
    }
    val setupS = jvmS + Trace.median(cycles) + warmMs / 1000
    log(s"${opt("workload")} seed=$seed cores=$cores ${workload.describe}")
    log(f"setup: jvm ${jvmS}%.2f s, cycles ${cycles.map(c => f"$c%.2f").mkString(" ")} s, warm-up ${warmMs / 1000}%.2f s")

    // ---- measurement
    def loop(budgetS: Double): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      // no pass starts that would, at the last pass's pace, end past the budget
      def fits = (System.nanoTime() - t0) / 1e9 + out.last.wallMs / 1000 <= budgetS
      while (out.isEmpty || fits) {
        try {
          out += workload.pass(spark, checks)
          checks("pass")(true)
        } catch {
          case e: Exception =>
            checks("pass")(false)
            log(s"pass failed: $e")
            out += Pass(Double.NaN, Nil)
        }
      }
      log(f"passes (ms): ${out.map(p => f"${p.wallMs}%.0f").mkString(" ")}; steps (ms): " +
        out.flatMap(_.opMs).map(o => f"$o%.0f").mkString(" "))
      out.filterNot(_.wallMs.isNaN).toSeq
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val passes = loop(seconds)
        val wallS = Trace.median(passes.map(_.wallMs)) / 1000
        val ops = passes.flatMap(_.opMs)
        Seq(
          ("setup_s", setupS, "s"),
          ("events_per_s", workload.eventsPerPass / wallS, "events/s"),
          ("wall_s", wallS, "s"),
          ("op_ms_p50", Trace.median(ops), "ms"),
          ("peak_rss_mb", peakRssMb, "MB"))
      } else {
        val plain = loop(seconds / 2)
        Trace.install(spark)
        val w0 = System.currentTimeMillis()
        val tracedPasses = loop(seconds / 2)
        val w1 = System.currentTimeMillis()
        Trace.stop()
        val layer = mutable.LinkedHashMap.empty[String, Double]
        Layers.All.foreach { case (k, _) => layer(k) = 0.0 }
        layer ++= engineLayers(w0, w1, tracedPasses.size)
        Trace.resumed(layer ++= workload.layers(spark, tracedPasses.size))
        layer("trace.overhead_ratio") =
          Trace.median(tracedPasses.map(_.wallMs)) / Trace.median(plain.map(_.wallMs))
        if (workload.isInstanceOf[Workloads.Backfill]) {
          // single-thread baseline: the same pass on local[1]
          stopSession(spark)
          spark = session(1, work)
          val p = workload.pass(spark, checks)
          layer("baseline.local1_events_per_s") = workload.eventsPerPass / (p.wallMs / 1000)
        }
        Record.write(Paths.get(opt("record")), opt("workload"), seed, cores, plain.size,
          tracedPasses.size, layer.toSeq, Trace.spanList)
        layer.toSeq.map { case (k, v) => (k, v, Layers.unit(k)) }
      }
    stopSession(spark)

    val failedRatio = checks.failed.toDouble / math.max(1L, checks.attempted)
    for ((k, v, u) <- metrics) log(f"$k%-40s $v%.6g $u")
    log(f"failed_ratio ${failedRatio}%.4f (${checks.failed}/${checks.attempted})")
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    Files.writeString(Paths.get(opt("result")),
      s"""{"correct": ${checks.failed == 0}, "attempted": ${checks.attempted}, """ +
        s""""failed": ${checks.failed}, "metrics": $json}""" + "\n")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally all.close()
  }

  def log(s: String): Unit = println(s"[perfbench] $s")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** A session with `GraftSession` settings on `local[cores]`, writing its
    * scratch space under `work`.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep every trigger's progress of a drain (the default keeps 100)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    graft.functions.GraftExtensions.registerAll(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    Trace.uninstall()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Peak resident set size of this JVM (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      val line = Files.readAllLines(status).toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      line.fold(Double.NaN)(l => l.split("\\s+")(1).toDouble / 1024)
    }
  }

  /** Catalyst and Spark figures of the traced window, per pass. */
  private def engineLayers(w0: Long, w1: Long, passes: Int): Map[String, Double] = {
    val c = Trace.counters
    val p = math.max(1, passes).toDouble
    c.synchronized(Map(
      "catalyst.analysis_s" -> c.analysisMs / 1000.0 / p,
      "catalyst.optimization_s" -> c.optimizationMs / 1000.0 / p,
      "catalyst.planning_s" -> c.planningMs / 1000.0 / p,
      "spark.jobs" -> c.jobs / p,
      "spark.stages" -> c.stages / p,
      "spark.tasks" -> c.tasks / p,
      "spark.executor_run_s" -> c.runMs / 1000.0 / p,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / p,
      "spark.gc_s" -> c.gcMs / 1000.0 / p,
      "spark.input_bytes" -> c.inputBytes / p,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / p,
      "spark.shuffle_read_bytes" -> c.shuffleRead / p,
      "spark.spill_bytes" -> c.spill / p,
      "spark.task_skew" -> Trace.taskSkew,
      "spark.driver_only_s" -> Trace.driverOnlyMs(w0, w1) / 1000.0 / p))
  }
}
