package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.11: the reference is batch-only;
  * this is the engine's forward-looking stream path): watermarked tumbling-
  * window aggregation and custom sessionization state, both fed by the events
  * table schema (event_id, ts, user_id, event_type, value, props).
  * Continuous KG construction needs no stream-specific code: the fused
  * extraction kernel (`Extract.triplesFused`) is a stateless narrow
  * transform, so it applies to a streaming (doc_id, text) frame unchanged
  * and feeds `tableSink` (StreamingSpec pins stream == batch).
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  case class UserSession(user_id: Long, n_events: Long, value_sum_micro: Long,
                         first_ts: Timestamp, last_ts: Timestamp)

  /** Watermarked tumbling-window counts/sums per event type. Batch-equivalent
    * of PipelineQueries q25 — the same logical agg runs on a stream.
    */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      // parquet TIMESTAMP_NTZ → TIMESTAMP (watermarks require an LTZ column;
      // session timezone is pinned to UTC so the cast is value-preserving)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 1000000D) as bigint)")).as("value_sum_micro"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("value_sum_micro"))

  /** Stateful per-user session accumulation via mapGroupsWithState — the
    * custom-state streaming primitive (running totals survive across
    * micro-batches).
    */
  private implicit val tsOrdering: Ordering[Timestamp] = Ordering.by(_.getTime)

  /** @param idleTimeout processing-time expiry for idle user state — at
    *   corpus scale user-id cardinality grows with the stream, so unbounded
    *   (NoTimeout) state is a memory leak; pass Some(duration) in production
    *   so idle groups are dropped (a reappearing user starts a fresh
    *   session). None keeps NoTimeout — correct for bounded test corpora and
    *   for `processAllAvailable`-style draining, which never quiesces while
    *   a processing-time timeout batch is pending.
    */
  def sessionize(events: Dataset[Event],
                 idleTimeout: Option[String] = None): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](timeoutConf) {
        case (uid, it, state: GroupState[UserSession]) =>
          if (idleTimeout.isDefined && state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val evs = it.toSeq
            val batchFirst = evs.map(_.ts).min
            val batchLast = evs.map(_.ts).max
            val prev = state.getOption.getOrElse(UserSession(uid, 0L, 0L, batchFirst, batchLast))
            val next = UserSession(
              uid,
              prev.n_events + evs.size,
              prev.value_sum_micro + evs.map(e => math.floor(e.value * 1e6).toLong).sum,
              Seq(prev.first_ts, batchFirst).min,
              Seq(prev.last_ts, batchLast).max)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** File-source stream over a directory of events parquet files: the
    * standard readStream → transform → memory-sink smoke path.
    */
  def eventsStream(spark: SparkSession, dir: String, schemaFrom: String): DataFrame = {
    val schema = spark.read.parquet(schemaFrom).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Exactly-once TableIO sink for a micro-batched stream: each micro-batch
    * commits to a batchId-keyed snapshot table, and a REPLAYED batch (post-
    * crash re-delivery — Structured Streaming's contract is at-least-once
    * delivery into foreachBatch) sees its table already committed and skips.
    * Idempotent replay over keyed commits IS the exactly-once recipe the
    * built-in file sink implements with its _spark_metadata log; this one
    * rides the engine's own atomic snapshot commits instead, so streamed
    * triples land in the same table format every batch consumer reads.
    */
  def tableSink(df: DataFrame, tableRoot: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val table = s"$tableRoot/batch-$batchId"
      if (graft.tableio.TableIO.currentVersion(table).isEmpty) {
        graft.tableio.TableIO.commit(batch, table)
      }
      ()
    }

  /** Read back everything the stream has committed: the union of the batch
    * snapshot tables under `tableRoot` (partition-discovery read per batch
    * table; batch count = micro-batch count, bounded by trigger cadence).
    */
  def readCommitted(spark: SparkSession, tableRoot: String): Option[DataFrame] = {
    val root = new java.io.File(tableRoot)
    val batches = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      .map(f => f.getAbsolutePath)
      .filter(p => graft.tableio.TableIO.currentVersion(p).isDefined)
    if (batches.isEmpty) None
    else Some(batches.map(graft.tableio.TableIO.read(spark, _)).reduce(_ unionByName _))
  }
}
