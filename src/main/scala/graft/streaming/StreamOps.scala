package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.ValueState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Core

/** Structured Streaming face of the reference engine.
  *
  * The reference's streaming guarantees (SURVEY.md §2.3-§2.5) map onto
  * built-in Structured Streaming machinery:
  *
  *  - WAL + log replay (rainstorm/server.go:186-278)      → checkpointLocation
  *  - dedup set `processedRecordIDs` (server.go:292-298)  → dropDuplicates(id) / source offsets
  *  - count state `map[string]int` (server.go:39)         → state store under groupBy.count
  *  - ack/retry delivery (server.go:376-408)              → task retry + deterministic replay
  *  - leader sink batch flush (batchLogger.go:26-63)      → micro-batch triggers
  *
  * All Core.* operators are pure `DataFrame => DataFrame`, so the same
  * op compositions run unchanged over batch or streaming frames — batch
  * is the degenerate case (`Trigger.AvailableNow` over a bounded source).
  */
object StreamOps {

  /** Streaming parquet source over a fixed schema (driver testdata shape). */
  def sourceParquet(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(dir)

  /** A1 per-record emission fidelity: the reference emits `(key, n)` on
    * EVERY increment (rainstorm/server.go:344-355), not once per
    * micro-batch. flatMapGroupsWithState with a running-count state
    * reproduces that exact output sequence.
    */
  def runningCountPerRecord(ds: Dataset[Core.Record]): Dataset[(String, Long)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, records: Iterator[Core.Record], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = records.map { _ => n += 1; (key, n) }.toList
          state.update(n)
          out.iterator
      }
  }

  /** The same A1 per-increment contract on Spark 4's arbitrary-state
    * API (`transformWithState` / `StatefulProcessor`) — the successor
    * to flatMapGroupsWithState: typed named state cells (here one
    * ValueState[Long] per key), optional per-cell TTL, timers, and it
    * runs only on the RocksDB state store provider — i.e. the 100 TB
    * state backend is a requirement of the API, not an option. Kept as
    * a twin of runningCountPerRecord so the spec can assert the two
    * APIs produce the identical emission sequence.
    */
  class RunningCountProcessor
      extends StatefulProcessor[String, Core.Record, (String, Long)] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long](
        "count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Core.Record],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      var n = if (count.exists()) count.get() else 0L
      val out = rows.map { _ => n += 1; (key, n) }.toList
      count.update(n)
      out.iterator
    }
  }

  def runningCountPerRecordTws(ds: Dataset[Core.Record]): Dataset[(String, Long)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Watermark-BOUNDED streaming dedup on arbitrary key columns — the
    * state regime that survives 100 TB: dropDuplicatesWithinWatermark
    * keys state by `keys` alone and EVICTS entries once the watermark
    * passes their expiry, so the seen-set holds only the active
    * watermark horizon instead of the full key universe (plain
    * dropDuplicates — the reference-faithful regime, server.go:34 —
    * grows forever). Exact semantics, pinned in StreamingSpec and
    * encoded by the stream_dedup_events_wm oracle:
    *  - an entry's expiry is FIRST-arrival event time + delay —
    *    later duplicates are dropped but do NOT extend it;
    *  - a batch's lookups see evictions by the CURRENT watermark
    *    (ms-truncated max event time over PRIOR batches, minus delay);
    *  - a key re-arriving after eviction is re-emitted (the bounded
    *    contract: exactly-once within the horizon, at-least-once
    *    beyond it).
    */
  def dedupBoundedBy(df: DataFrame, tsCol: String, delay: String,
                     keys: String*): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys.toSeq)

  /** F5 streaming exactly-once dedup on the record ID ALONE — the
    * reference's `processedRecordIDs` set semantics (server.go:292-298):
    * a redelivered id is dropped even if its event-time column differs
    * between deliveries (dedupBoundedBy keys state by id only).
    */
  def dedupById(df: DataFrame, tsCol: String, watermark: String): DataFrame =
    dedupBoundedBy(df, tsCol, watermark, "id")

  /** Tumbling event-time window aggregation with watermarking. */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String,
                     watermark: String, keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width) +: keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Session windows (gap-based) per key with watermarking. */
  def sessionCounts(df: DataFrame, tsCol: String, gap: String,
                    watermark: String, keys: String*): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Observation names runPipeline publishes (one CollectMetrics node
    * at each end of the pipeline).
    */
  val SourceMetrics = "graft_source"
  val SinkMetrics = "graft_sink"

  /** Live production-pipeline metrics — the Spark-native analogue of
    * the reference leader's in-flight progress prints
    * (rainstorm/server.go:306-310). The counters ride the job itself
    * via `Dataset.observe` (named aggregates computed inline with each
    * micro-batch — zero extra passes, proven in ExtensionsSpec) and
    * arrive here on the listener bus with every batch's progress event;
    * totals accumulate per query id, so one listener serves a whole
    * session's pipelines. Progress events are posted asynchronously —
    * after a query terminates, poll briefly before reading totals.
    */
  final class PipelineMetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val totals =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
    /** Terminated queries whose totals are still readable. Bounded
      * grace instead of evict-on-terminate: callers read totals AFTER
      * awaitTermination (racing the async listener bus), so dropping a
      * query's entry the moment it terminates would hand them zeros.
      * Keeping the last `RetainTerminated` terminated queries bounds a
      * session-long listener at O(retained + running) entries — without
      * the eviction, one entry leaks per streaming query forever.
      */
    private val RetainTerminated = 64
    private val terminated = new java.util.ArrayDeque[java.util.UUID]()
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
      terminated.synchronized {
        terminated.addLast(event.id)
        while (terminated.size > RetainTerminated)
          totals.remove(terminated.removeFirst())
      }
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      def metric(name: String, field: String): Long =
        Option(p.observedMetrics.get(name))
          .map(_.getAs[Long](field)).getOrElse(0L)
      val in = metric(SourceMetrics, "rows_in")
      val out = metric(SinkMetrics, "rows_out")
      if (in != 0L || out != 0L)
        totals.merge(p.id, (in, out),
          (a, b) => (a._1 + b._1, a._2 + b._2))
    }
    /** Total source rows observed across the query's batches so far. */
    def rowsIn(id: java.util.UUID): Long =
      Option(totals.get(id)).map(_._1).getOrElse(0L)
    /** Total sink rows observed across the query's batches so far. */
    def rowsOut(id: java.util.UUID): Long =
      Option(totals.get(id)).map(_._2).getOrElse(0L)
    /** Current per-query (rows_in, rows_out) totals — the
      * observability/spec hook for callers that don't hold the query
      * id (progress events are async: poll after termination).
      */
    def snapshot: Map[java.util.UUID, (Long, Long)] = {
      val b = Map.newBuilder[java.util.UUID, (Long, Long)]
      totals.forEach((k, v) => b += (k -> v))
      b.result()
    }
  }

  /** source → op1 → op2 with both ends observed (rows_in before op1,
    * rows_out after op2), so a PipelineMetricsListener sees per-batch
    * ingest and emit counts without the sink path running blind — and
    * without a second pass over the data. The frame runPipeline sinks;
    * the streaming gates run it through their own runner.
    */
  def observedPipeline(source: DataFrame,
                       op1: DataFrame => DataFrame,
                       op2: DataFrame => DataFrame): DataFrame =
    Core.pipeline(source.observe(SourceMetrics, count(lit(1)).as("rows_in")),
      op1, op2).observe(SinkMetrics, count(lit(1)).as("rows_out"))

  /** The RainStorm pipeline template, streaming edition: source → op1 →
    * op2 → sink with checkpointed exactly-once (rainstorm/server.go:88-153
    * minus the hand-rolled WAL), observed as in observedPipeline.
    * `AvailableNow` drains all available input then stops — the
    * deterministic batch-equivalent trigger.
    */
  def runPipeline(source: DataFrame,
                  op1: DataFrame => DataFrame,
                  op2: DataFrame => DataFrame,
                  outputMode: OutputMode,
                  checkpoint: String,
                  sinkDir: Option[String] = None): StreamingQuery = {
    val writer = observedPipeline(source, op1, op2).writeStream
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
    sinkDir match {
      case Some(dir) => writer.format("parquet").option("path", dir).start()
      case None      => writer.format("memory").queryName(s"graft_sink_${System.nanoTime()}").start()
    }
  }
}
