package graft

import graft.streaming.Streams
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val streamDir: String = {
    // file-source streams read directories; stage the events parquet into one
    val d = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), d.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("streaming windowed agg over file source matches the batch result") {
    val stream = Streams.eventsStream(spark, streamDir, s"$sfDir/events.parquet")
    val q = Streams.windowedAgg(stream)
      .writeStream.outputMode("update").format("memory").queryName("win_agg").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_agg")
        .groupBy("hour", "event_type") // memory sink in update mode may emit multiple rows per key; keep last
        .agg(max("n").as("n"), max("value_sum_micro").as("value_sum_micro"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val want = spark.read.parquet(s"$sfDir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 1000000D) as bigint)")).as("value_sum_micro"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"stream/batch mismatch: ${got.size} vs ${want.size} groups")
    } finally q.stop()
  }

  test("sessionize with idle-state timeout runs and emits under AvailableNow") {
    // ProcessingTimeTimeout keeps a future batch pending, so this variant is
    // driven with Trigger.AvailableNow (terminates after draining) instead
    // of processAllAvailable (which would never quiesce)
    val stream = Streams.eventsStream(spark, streamDir, s"$sfDir/events.parquet")
      .as[Streams.Event]
    val q = Streams.sessionize(stream, idleTimeout = Some("10 minutes"))
      .writeStream.outputMode("update").format("memory").queryName("sessions_to")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000L)
      val got = spark.table("sessions_to")
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = spark.read.parquet(s"$sfDir/events.parquet")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, "timeout variant must still accumulate full sessions")
    } finally q.stop()
  }

  test("streaming extraction == batch extraction; restart appends exactly once") {
    import graft.extract.Extract
    // landing directory with one docs file; the stream extracts triples from
    // whatever arrives and commits each micro-batch through TableIO
    val docsDir = Files.createTempDirectory("graft-docs-stream")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      docsDir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    def stream = spark.readStream.schema(schema).parquet(docsDir.toString)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val out = Files.createTempDirectory("graft-triples-stream").toString

    val q1 = Streams.tableSink(Extract.triplesFused(stream).toDF(), s"$out/triples")
      .option("checkpointLocation", s"$out/ckpt").start()
    try q1.processAllAvailable() finally q1.stop()

    def committedKeys = Streams.readCommitted(spark, s"$out/triples").get
      .select("doc_id", "span_idx", "subj", "pred", "obj")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val batchTriples = Extract.triplesFused(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")).as[(Long, String)]).toDF()
      .select("doc_id", "span_idx", "subj", "pred", "obj")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(committedKeys == batchTriples, "stream must equal batch extraction")

    // restart with the SAME checkpoint after a second file lands: processed
    // files are not re-extracted (no duplicate commits — the committed
    // batch-0 snapshot version must not move), the new file lands exactly once
    val v0 = graft.tableio.TableIO.currentVersion(s"$out/triples/batch-0")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      docsDir.resolve("part-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = Streams.tableSink(Extract.triplesFused(stream).toDF(), s"$out/triples")
      .option("checkpointLocation", s"$out/ckpt").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.tableio.TableIO.currentVersion(s"$out/triples/batch-0") == v0,
      "restart must not recommit already-committed batches")
    val total = Streams.readCommitted(spark, s"$out/triples").get.count()
    assert(total == 2L * batchTriples.size,
      s"second file must land exactly once: $total vs ${2L * batchTriples.size}")
  }

  test("stateful sessionization accumulates per-user state across batches") {
    val stream = Streams.eventsStream(spark, streamDir, s"$sfDir/events.parquet")
      .as[Streams.Event]
    val q = Streams.sessionize(stream)
      .writeStream.outputMode("update").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions")
        .groupBy("user_id").agg(max("n_events").as("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = spark.read.parquet(s"$sfDir/events.parquet")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want)
    } finally q.stop()
  }
}
