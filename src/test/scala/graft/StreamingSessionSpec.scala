package graft

import java.util.Properties

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.AuditSessionPipeline

/** Streaming parity: the reference's 4-event MiniCluster test
  * (`TestAuditSession.java`) on Structured Streaming — MemoryStream in,
  * Append-mode session aggregation, memory sink out. A watermark-advancing
  * flush record stands in for Flink's end-of-bounded-stream watermark.
  */
class StreamingSessionSpec extends SparkSpec {
  import spark.implicits._

  private def audit(user: String, result: Int, count: Int, time: String): String =
    s"""{"reqUser":"$user","repo":"r","result":$result,"event_count":$count,""" +
      s""""evtTime":"$time"}"""

  test("streaming 4-event scenario emits (wdyson,10) and (bob,2) on watermark close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val lines = input.toDF().withColumnRenamed("value", "value")

    // zero out-of-orderness = the test's forMonotonousTimestamps
    val sessions = AuditSessionPipeline.transform(lines, gapSeconds = 1200, watermark = "0 seconds")

    val query = sessions.writeStream
      .format("memory")
      .queryName("sessions_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        audit("wdyson", 0, 10, "2022-09-26 10:00:00.000"),
        audit("wdyson", 1, 1, "2022-09-26 10:10:00.000"),
        audit("bob", 0, 1, "2022-09-26 10:10:00.000"),
        audit("bob", 0, 1, "2022-09-26 10:20:00.000")
      )
      query.processAllAvailable()
      // advance the watermark far past both session ends to force emission
      input.addData(audit("flush", 1, 1, "2022-09-28 00:00:00.000"))
      query.processAllAvailable()

      val out = spark.table("sessions_out").orderBy("reqUser").collect()
      assert(out.length == 2)
      assert(out(0).getAs[String]("reqUser") == "bob")
      assert(out(0).getAs[Long]("denies") == 2L)
      assert(out(1).getAs[String]("reqUser") == "wdyson")
      assert(out(1).getAs[Long]("denies") == 10L)
    } finally query.stop()
  }

  test("streaming dynamic-gap sessions: same operator, per-event gap, Append emission") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, lit, when}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val input = MemoryStream[(String, String, Timestamp)]
    val events = input.toDF().toDF("user", "et", "t")
      .withWatermark("t", "0 seconds")
    val sessions = graft.operators.Sessionize.deniedCounts(
      events, "t", "user",
      gap = when(col("et") === "error", "60 seconds").otherwise("600 seconds"),
      denied = col("et") === "error",
      weight = lit(1L))

    val query = sessions.writeStream
      .format("memory").queryName("dyn_sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        ("u2", "error", ts("2022-09-26 10:00:00")), // 60 s gap → closes at 10:01
        ("u2", "error", ts("2022-09-26 10:05:00"))  // new session
      )
      query.processAllAvailable()
      input.addData(("flush", "view", ts("2022-09-28 00:00:00")))
      query.processAllAvailable()

      val out = spark.table("dyn_sessions_out")
        .filter(col("user") === "u2").orderBy("session_start").collect()
      assert(out.length == 2, s"got ${out.toSeq}")
      assert(out.map(_.getAs[Long]("denies")).toSeq == Seq(1L, 1L))
      // session end = event time + its own 60 s gap
      assert(out(0).getAs[Timestamp]("session_end") == ts("2022-09-26 10:01:00"))
    } finally query.stop()
  }

  test("config loader parses reference keys and kafka.* passthrough") {
    val props = new Properties()
    props.setProperty("audit.path", "/data/audit")
    props.setProperty("audit.poll", "240")
    props.setProperty("audit.min_date", "20210101")
    props.setProperty("session.duration", "600")
    props.setProperty("session.output", "kafka")
    props.setProperty("kafka.topic", "sessions")
    props.setProperty("kafka.bootstrap.servers", "broker:9092")
    props.setProperty("kafka.security.protocol", "SASL_SSL")
    val c = AuditSessionPipeline.Config.fromProperties(props)
    assert(c.auditPath == "/data/audit")
    assert(c.pollSeconds == 240L)
    assert(c.minDate.contains("20210101"))
    assert(c.gapSeconds == 600L)
    assert(c.output == "kafka")
    assert(c.kafkaTopic.contains("sessions"))
    assert(c.kafkaOptions == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "kafka.security.protocol" -> "SASL_SSL"
    ))
  }

  test("kafka sink runtime wiring, classpath-gated: exercises the connector the day the jar appears") {
    // This image ships no spark-sql-kafka connector jar (mirroring the
    // reference, which declares Kafka `provided` and never runs it in
    // tests either — App.java:84-109 / pom.xml:38-43). The wiring is
    // still driven END TO END up to the only boundary the environment
    // imposes: with the connector absent, start() must fail at FORMAT
    // RESOLUTION — proving topic/options/trigger/checkpoint wiring got
    // that far — and the test reports itself canceled, not passed. The
    // day a connector jar lands on the classpath, the same test starts
    // the query for real and asserts it reaches the broker-connect
    // stage instead (no wiring/format error), with no code change.
    val cp = java.nio.file.Files.createTempDirectory("graft_kafkacp").toFile.getAbsolutePath
    val df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .selectExpr("CAST(value AS STRING) AS value")
    val cfg = AuditSessionPipeline.Config(
      auditPath = "/unused", pollSeconds = 1L, minDate = None, gapSeconds = 60L,
      output = "kafka", checkpoint = Some(cp), kafkaTopic = Some("sessions"),
      kafkaOptions = Map("kafka.bootstrap.servers" -> "localhost:1",
        "kafka.max.block.ms" -> "2000"))
    val connectorPresent =
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: Throwable => false }
    if (!connectorPresent) {
      val e = intercept[Exception] { AuditSessionPipeline.writer(df, cfg).start() }
      val msg = Option(e.getMessage).getOrElse("").toLowerCase
      assert(msg.contains("kafka"),
        s"expected failure AT FORMAT RESOLUTION (wiring complete), got: $msg")
      cancel("spark-sql-kafka connector absent in this image; wiring verified to the format-resolution boundary")
    } else {
      val q = AuditSessionPipeline.writer(df, cfg).start()
      try {
        // unreachable broker: the query must START (format resolved,
        // sink constructed) and only ever fail at connect level
        try { q.awaitTermination(15000); () } catch { case _: Throwable => () }
        if (!q.isActive) {
          val msg = q.exception.map(_.getMessage.toLowerCase).getOrElse("")
          assert(!msg.contains("failed to find data source") && !msg.contains("unsupported"),
            s"wiring error instead of broker-connect failure: $msg")
        }
      } finally q.stop()
    }
  }

  test("config defaults: poll=240, output=kafka; missing required key throws") {
    val props = new Properties()
    props.setProperty("audit.path", "/data")
    props.setProperty("session.duration", "600")
    val c = AuditSessionPipeline.Config.fromProperties(props)
    assert(c.pollSeconds == 240L && c.output == "kafka" && c.minDate.isEmpty)
    val bad = new Properties()
    bad.setProperty("audit.path", "/data")
    assertThrows[IllegalArgumentException](AuditSessionPipeline.Config.fromProperties(bad))
  }
}
