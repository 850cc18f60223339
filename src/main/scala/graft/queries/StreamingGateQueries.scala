package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.{GraftSession, Tables}
import graft.streaming.StreamOps

/** Oracle-gated queries that execute a REAL Structured Streaming job:
  * `readStream` over a staged copy of a parquet table → the gate's body
  * (stateful aggregation, join, dedup or a per-batch protocol) → a
  * sink, drained with `Trigger.AvailableNow` (the deterministic
  * batch-equivalent trigger), then returned as the query's result. The
  * DuckDB oracle states the same result in plain SQL — proving
  * streaming ≡ batch on the driver's own gate, not just in unit tests.
  *
  * Every gate runs through [[runGate]]: RainStorm's one pipeline
  * template (scan → op → [shuffle] → op → sink) applied to the gates.
  * How the source plans micro-batches follows the staging form:
  * [[WholeTable]] sets no `maxFilesPerTrigger` and streams one file, so
  * the drain is one data micro-batch; [[Batches]] stages one file per
  * batch predicate and sets `maxFilesPerTrigger` to 1, so every
  * predicate is exactly one micro-batch, in order — the shape that
  * exercises real cross-batch state and watermarks, the way the
  * reference's recoverable `map[string]int` carried counts across
  * batches (SURVEY.md §2.3 A1/A2).
  *
  * NOTE — do not copy the memory-sink pattern to production paths: a
  * memory sink (and Complete mode in particular) materializes the whole
  * result on the driver. It is appropriate here ONLY because gate
  * results are small aggregates/joins; large-cardinality streaming
  * results belong in a file/table sink (StreamOps.runPipeline).
  */
object StreamingGateQueries {

  private val runId = new AtomicLong(0L)

  /** A gate's source table: `<d>/<name>.parquet` and its normalization. */
  private final case class GateTable(name: String, normalize: DataFrame => DataFrame)
  private val Events = GateTable("events", Tables.normalizeEvents)
  private val Documents = GateTable("documents", identity)
  private val Embeddings = GateTable("embeddings", Tables.normalizeTemporal)
  private val Lineitem = GateTable("lineitem", identity)

  /** How a gate's table enters its stream. */
  private sealed trait Staging

  /** The table's one parquet file, linked (zero-copy) into the source
    * dir and normalized on the readStream side.
    */
  private case object WholeTable extends Staging

  /** The table as ordered micro-batches: batch i holds
    * `prepare(normalize(table).filter(preds(i)))`, staged as one parquet
    * file with that normalized, prepared schema. Invariants:
    *  - membership: the predicates alone decide which rows a batch
    *    holds, so an oracle recomputes every batch (and its watermark)
    *    exactly; `prepare` shapes a batch's content, e.g. one row per
    *    key at a deterministic event time;
    *  - order: the file source orders files by modification time, set
    *    60 s apart in predicate order;
    *  - one staging job: every batch is tagged with its index and the
    *    union is written once, hash-repartitioned and partitioned by the
    *    tag, so each batch lands in one task and one part file; a batch
    *    the split leaves empty gets its own empty file, so the
    *    micro-batch sequence is the same at any scale;
    *  - row order WITHIN a batch is the order the staging shuffle
    *    delivered, which varies between runs and discards any order
    *    `prepare` sets. No gate's emission depends on it: each emits a
    *    set, an exact integer aggregate, a top-k with a total tie-break,
    *    or a dedup whose candidate rows for one key are identical
    *    (one row per key per batch, or the batch's staged clock).
    */
  private final case class Batches(preds: Seq[Column],
                                   prepare: DataFrame => DataFrame = identity)
      extends Staging

  /** `n` batches by `c % n`. */
  private def byMod(c: String, n: Int,
                    prepare: DataFrame => DataFrame = identity): Batches =
    Batches((0 until n).map(i => col(c) % n === i), prepare)

  /** Keeps the serving gates' query vectors only: each staged batch
    * holds ~NQueries/batches rows instead of a slice of the corpus,
    * which enters the plan once, as the static side.
    */
  private val queryVectors: DataFrame => DataFrame =
    _.filter(col("vec_id") < VectorQueries.NQueries)

  /** Where a gate's rows go, and what the runner returns once the
    * stream has drained.
    */
  private sealed trait Sink

  /** The driver memory sink. Returns its rows; the temp view Spark
    * registers for the sink is dropped, so the caller's catalog keeps
    * no reference to the run's rows.
    */
  private final case class Memory(mode: OutputMode) extends Sink

  /** The production path: a parquet file sink in Append mode (the only
    * mode file sinks support) into a runner-owned dir, read back through
    * the sink's `_spark_metadata` commit log — only files committed
    * exactly-once are visible — with the body's own schema (a run whose
    * watermark closes no window commits no data file, and schema
    * inference over a metadata-only dir throws instead of returning the
    * empty frame the gate compares), then localCheckpointed. Append
    * semantics are part of the contract: a window emits only once the
    * final watermark passes its end, and the oracle states that cutoff.
    */
  private case object FileSink extends Sink

  /** foreachBatch: `step` runs once per micro-batch. Returns `drained()`. */
  private final case class StepSink(step: (DataFrame, Long) => Unit,
                                    drained: () => DataFrame) extends Sink

  /** A KmMiniBatch protocol driven one step per micro-batch; `result`
    * reads the drained protocol.
    */
  private def kmSink[P <: VectorQueries.KmMiniBatch](st: P)(
      result: P => DataFrame): StepSink =
    StepSink(st.step, () => result(st))

  /** A drift-refreshed persisted-store gate: the generation step over
    * `codec`'s KmGenStore at KmDriftRebuild; at drain the store compacts
    * and bounds its run, then publishes it as the corpus's current
    * refresh store (the two-level LATEST resolution specs and
    * compaction use).
    */
  private def refreshSink(s: SparkSession, d: String,
                          codec: VectorQueries.Codec): StepSink =
    kmSink(new VectorQueries.KmIvfGenerations(s, d, VectorQueries.KmDriftRebuild,
        new VectorQueries.KmGenStore(s, d, codec))) { st =>
      st.artifact.publish()
      st.servedTopkResult()
    }

  /** A streaming-ingest persisted-store gate: four vec_id-residue
    * batches land in a fresh child of `codec`'s root through the
    * shared storeIngest (one label quantizer, built under the gate's
    * pins, for the arriving-side cells and the probes); at drain the
    * child is published and the full query set serves from it.
    */
  private def ingestGate(s: SparkSession, d: String,
                         codec: VectorQueries.Codec): DataFrame = {
    val store = VectorQueries.storeNewChild(codec.root(d))
    runGate(s, d, Embeddings, {
      val quant = VectorQueries.Quantizer.labelMeans(s, d)
      StepSink(VectorQueries.storeIngest(codec, quant, store, _, _), () => {
        VectorQueries.ivfStoreCommitLatest(codec.root(d), store)
        VectorQueries.storeServe(s, d, quant, codec, store)
      })
    }, byMod("vec_id", 4))(identity)
  }

  /** The KmMiniBatch gates' staging: KmMbBatches vec_id-residue batches
    * (mtime-staged ORDER is part of the contract — the oracles unroll
    * the steps CTE-for-CTE).
    */
  private val KmStaging = byMod("vec_id", VectorQueries.KmMbBatches)

  /** One state store per shuffle partition PER stateful operator side:
    * at gate scale (tens of k rows) 32 partitions means the run is
    * dominated by store commit I/O, not data, so every gate runs with 8
    * (a production job sizes this to its key cardinality).
    */
  private val GateConfs = Map("spark.sql.shuffle.partitions" -> "8")

  /** No no-data micro-batch between the staged batches: one would
    * advance the watermark — and run evictions — a batch early, which
    * the eviction-replay oracles rule out. AvailableNow is observed
    * never to interleave one; the pin makes it contractual. Window gates
    * must NOT get it: their Append emission relies on the trailing
    * no-data batch.
    */
  private val NoDataBatchesOff =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** The RocksDB state store: transformWithState requires it, and it is
    * the backend the bounded-state story names (state off-heap,
    * incremental checkpoints).
    */
  private val RocksDb = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The one gate runner: stage → body → sink → drain → collect → clean
    * up. Invariants:
    *  - pins: GateConfs ++ `confs` are set on the caller's session for
    *    the whole run and restored in a finally; a key that was unset
    *    before is unset again. StreamExecution clones the session at
    *    start(), so a pin holds for the run; gates never run
    *    concurrently, so a pin never reaches another gate;
    *  - everything the gate builds runs under the pins: the staging, the
    *    body, the sink (a by-name value, evaluated once after the body,
    *    so a foreachBatch protocol sets up its state there) and the
    *    sink's collect step;
    *  - the temp dirs (graft-src-*, graft-stage-*, graft-ckpt-*,
    *    graft-out-*) are the runner's: deleted once the query has
    *    terminated, also when a step fails, and the returned frame reads
    *    none of them. Each run is a fresh pipeline; recovery is covered
    *    by StreamingSpec's kill/restart tests;
    *  - the runner's own Spark jobs are the staging reads and write and
    *    FileSink's read-back checkpoint, none per micro-batch; every
    *    other job is the gate's.
    */
  private def runGate(s: SparkSession, d: String, table: GateTable,
                      sink: => Sink = Memory(OutputMode.Complete()),
                      staging: Staging = WholeTable,
                      confs: Map[String, String] = Map.empty)(
      body: DataFrame => DataFrame): DataFrame = {
    GraftSession.tune(s)
    val pins = GateConfs ++ confs
    val set = s.conf.getAll
    val prior = pins.keys.map(k => k -> set.get(k))
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    val name = s"gate_${runId.incrementAndGet()}"
    val dirs = ArrayBuffer.empty[java.io.File]
    def temp(kind: String): java.io.File = {
      dirs += Files.createTempDirectory(s"graft-$kind-$name").toFile
      dirs.last
    }
    try {
      val path = s"$d/${table.name}.parquet"
      val src = staging match {
        case WholeTable =>
          val srcDir = temp("src")
          Files.createSymbolicLink(srcDir.toPath.resolve("part-0.parquet"),
            Paths.get(path).toAbsolutePath)
          table.normalize(s.readStream.schema(s.read.parquet(path).schema)
            .parquet(srcDir.toString))
        case Batches(preds, prepare) =>
          val (srcDir, stage) = (temp("src"), temp("stage"))
          val full = table.normalize(s.read.parquet(path))
          val staged = preds.map(p => prepare(full.filter(p)))
          staged.zipWithIndex.map { case (df, i) => df.withColumn("__b", lit(i)) }
            .reduce(_ unionByName _)
            .repartition(col("__b")).write.mode("overwrite").partitionBy("__b")
            .parquet(stage.toString)
          val t0 = System.currentTimeMillis() - 600000L
          staged.indices.foreach { i =>
            val dir = new java.io.File(stage, s"__b=$i")
            if (!dir.isDirectory) staged(i).coalesce(1).write.parquet(dir.toString)
            val dst = new java.io.File(srcDir, f"batch$i%02d.parquet")
            Files.move(onlyPart(dir).toPath, dst.toPath)
            dst.setLastModified(t0 + i * 60000L)
          }
          s.readStream.schema(staged.head.schema).option("maxFilesPerTrigger", 1)
            .parquet(srcDir.toString)
      }
      val out = body(src)
      val gateSink = sink
      val w = out.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", temp("ckpt").toString)
      lazy val outDir = temp("out").toString
      val q = gateSink match {
        case Memory(mode) =>
          w.outputMode(mode).format("memory").queryName(name).start()
        case FileSink =>
          w.outputMode(OutputMode.Append()).format("parquet")
            .option("path", outDir).start()
        case StepSink(step, _) => w.foreachBatch(step).start()
      }
      try q.awaitTermination()
      finally q.stop()
      gateSink match {
        case Memory(_) =>
          val rows = s.table(name)
          s.catalog.dropTempView(name)
          rows
        case FileSink =>
          s.read.schema(out.schema).parquet(outDir).localCheckpoint()
        case StepSink(_, drained) => drained()
      }
    } finally {
      dirs.foreach(VectorQueries.deleteRecursively)
      prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** The one parquet part file a staging write left in `dir` — a
    * second one would be a batch's rows staged as two files, so it
    * fails loudly instead of dropping rows.
    */
  private def onlyPart(dir: java.io.File): java.io.File =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) match {
      case Array(p) => p
      case ps => sys.error(s"expected exactly one part file staged in $dir, found ${ps.length}")
    }

  /** The running-count gates' shared body — one record projection
    * (events → Core.Record) for both state APIs, so the twins can never
    * drift apart (same reason splitSql/deconSql are shared in
    * CurationQueries).
    */
  private def runningCount(
      counter: org.apache.spark.sql.Dataset[graft.operators.Core.Record] =>
        org.apache.spark.sql.Dataset[(String, Long)])(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    counter(df.select(
      col("event_id").cast("string").as("id"),
      col("event_type").as("key"),
      lit("").as("value")).as[graft.operators.Core.Record]).toDF("key", "n")
  }

  /** Hourly event-time windows per event_type under a 1-hour watermark:
    * the body of stream_tumbling_window and stream_late_data. Watermarks
    * require an instant (TIMESTAMP); the UTC session makes the NTZ→LTZ
    * cast value-preserving.
    */
  private val hourlyWindowCounts: DataFrame => DataFrame =
    _.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("timestamp_ntz").as("wstart"),
        col("event_type"), col("cnt"))

  /** One oracle for both running-count gates (same multiset contract). */
  private val runningCountOracleSql = """
      SELECT event_type AS key, CAST(i AS BIGINT) AS n
      FROM (SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type),
           LATERAL (SELECT unnest(range(1, c + 1)) AS i) t"""

  /** The two pipeline stages of the streaming curation composite,
    * shared with the spec that asserts its metrics totals (one
    * definition, zero drift). op1 is STATELESS — curation gates
    * (TextQueries.curationGateRows), chunking (CurationQueries
    * .chunkRows), split assignment (pure function of doc_id) — so the
    * only streaming state is op2's dedup set, and the emitted
    * (split, chunk_fp) SET is deterministic (which copy survives
    * dedup is arrival-order-dependent; the set is not — same
    * reasoning as stream_dedup_chunks).
    */
  private[graft] val curationOp1: DataFrame => DataFrame = df =>
    CurationQueries.chunkRows(
      TextQueries.curationGateRows(df.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("text")))
      .withColumn("split", CurationQueries.splitCol(col("doc_id")))
  private[graft] val curationOp2: DataFrame => DataFrame = df =>
    df.dropDuplicates("split", "chunk_fp")
      .select(col("split"), col("chunk_fp"))
  /** The BOUNDED-state form of the composite's dedup stage: seen-set
    * keyed by (split, chunk_fp) with an arrival-time watermark (the
    * documents corpus has no event time), evicted past the 1-day
    * horizon — the state regime the composite needs at 100 TB. Within
    * one gate run nothing evicts (arrivals monotone, span << delay),
    * so the emitted set still equals DISTINCT and the unbounded
    * twin's oracle gates it exactly.
    */
  private[graft] val curationOp2Wm: DataFrame => DataFrame = df =>
    StreamOps.dedupBoundedBy(
        df.withColumn("arrival_ts", current_timestamp()),
        "arrival_ts", "1 day", "split", "chunk_fp")
      .select(col("split"), col("chunk_fp"))

  /** The bounded-regime serving twins' shared geometry:
    * each `*_wm` serving gate stages its arriving keys as FOUR
    * micro-batches (key % 4) under the STAGED arrival clock — batch b's
    * rows all carry arrival_ts = 2024-03-01 + b days, a pure function
    * of batch membership (the chunks_wm_evict device), so the oracle
    * replays the watermark exactly. The stateful aggregation keys by
    * (1-day arrival window, key) under a 1-hour watermark in APPEND
    * mode through the production parquet sink: closed windows EVICT
    * (state plateaus at the open horizon — StreamingSpec measures it
    * against the Complete twin's accretion) and a window emits once
    * the final watermark (max arrival − 1 h = day 3 − 1 h) passes its
    * end — windows 0..1 emit, 2..3 are withheld, the same Append
    * cutoff as stream_dedup_substring_wm, stated in the oracle. Each
    * key's group is wholly inside its own arrival window, so the
    * emitted rows are the batch results of the emitted keys verbatim.
    */
  private val WmServeBatches = 4

  /** arrival_ts as a pure function of the arriving key (staged clock). */
  private def stagedArrival(keyExpr: String): org.apache.spark.sql.Column =
    expr(s"cast('2024-03-01 00:00:00' as timestamp) + make_interval(" +
      s"0, 0, 0, cast(($keyExpr) % $WmServeBatches as int), 0, 0, 0)")

  /** The serving twins' oracle wrapper: the BATCH oracle verbatim,
    * restricted to the keys of the emitted (watermark-closed) windows,
    * each row carrying its window start — the staged clock replayed in
    * SQL. batches − 2 of the 4 staged windows emit (final watermark =
    * day 3 − 1 h).
    */
  private def wmServeOracle(batchSql: String, keyCol: String): String = s"""
      SELECT TIMESTAMP '2024-03-01 00:00:00'
               + to_days(CAST($keyCol % $WmServeBatches AS INT)) AS wstart, t.*
      FROM ($batchSql) t
      WHERE $keyCol % $WmServeBatches < ${WmServeBatches - 2}"""

  /** BPE serving body shared by stream_bpe_tokenize and its bounded
    * `_wm` twin (one definition, zero drift): explode arriving docs to
    * words, broadcast-join the offline-trained vocab map, meter per-doc
    * budgets — keyed by doc_id alone (Complete) or by
    * (arrival window, doc_id) under the watermark (Append).
    */
  private[graft] def bpeServe(df: DataFrame, nsub: DataFrame,
                              windowed: Boolean,
                              arrival: => org.apache.spark.sql.Column =
                                stagedArrival("doc_id")): DataFrame = {
    val joined = df.select(col("doc_id"),
        explode(TextQueries.words(col("text"))).as("word"))
      .join(broadcast(nsub), "word")
    if (windowed)
      joined.withColumn("arrival_ts", arrival)
        .withWatermark("arrival_ts", "1 hour")
        .groupBy(window(col("arrival_ts"), "1 day"), col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("nb")).as("n_bpe_tokens"))
        .select(col("window.start").cast("timestamp_ntz").as("wstart"),
          col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    else
      joined.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("nb")).as("n_bpe_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The LLM curation pipeline composed UNDER CHECKPOINTED STREAMING —
    // quality/language gate → chunk → split → chunk-dedup — through the
    // PRODUCTION path end-to-end: StreamOps.observedPipeline (both ends
    // observed for PipelineMetricsListener; StreamingSpec asserts the
    // totals against batch counts) into the parquet file sink, read
    // back via the sink's commit log. Proves the per-operator streaming
    // twins COMPOSE as one checkpointed job, not just individually.
    "stream_curation_pipeline" -> ((s, d) =>
      runGate(s, d, Documents, FileSink)(
        StreamOps.observedPipeline(_, curationOp1, curationOp2))),

    // The SAME composite with the dedup stage in its BOUNDED-state
    // form (curationOp2Wm): gate → chunk → split → watermark-bounded
    // chunk-dedup as one checkpointed job through the production
    // parquet sink. The emitted set equals the unbounded twin's
    // (nothing evicts within a run), so one oracle gates both — what
    // changes is the state regime, which is the part that decides
    // whether the composite survives a month of 100 TB ingest.
    "stream_curation_pipeline_wm" -> ((s, d) =>
      runGate(s, d, Documents, FileSink)(
        StreamOps.observedPipeline(_, curationOp1, curationOp2Wm))),

    // THE FULL-STACK CURATION COMPOSITE AS A STREAMING ADMISSION JOB
    // (the streaming twin of docs_curation_e2e_kmeans): every stage of the batch e2e chain runs
    // on the ARRIVING document in one checkpointed job, APPEND through
    // the production parquet sink. The per-arrival work is real —
    // quality gate and token counts computed from the arriving text
    // (curationGateRows, the shared stateless body), the exact-dup
    // fingerprint computed from the arriving text and judged against
    // the static OWNER inventory (fp → min gated doc_id: the
    // fingerprint-width store artifact, dedup_incremental's shape),
    // the SemDeDup admission scoring the arriving embedding against
    // its trained cell's static members (semdedupAdmitStateless — a
    // stream-static LEFT ANTI join, per-arrival cost one inverted
    // list) — while the two corpus-derived inventories
    // (decontaminated-id set, ExactSubstr span budget) join as the
    // static artifacts a production admission job broadcasts. No
    // stateful operator anywhere, so Append needs no watermark and
    // state is ZERO whatever the stream length — the strongest
    // bounded-state regime of any composite. Docs without a vector
    // (sf0.1 has 5000 docs, 2000 embeddings) bypass the admission
    // anti-join and stay kept, exactly the batch anti-join's vacuous
    // case. The pack face needs corpus totals (shard key = running
    // token sums), so it finishes in the drained batch post-pass over
    // the sink's rows — the kmStreamUpdateFinish device — through the
    // SHARED packBins tail. Oracle: the batch composite's verbatim
    // (streaming ≡ batch, one definition, zero drift).
    "stream_docs_curation_e2e_kmeans" -> ((s, d) =>
      CurationQueries.packBins(runGate(s, d, Documents, FileSink) { src =>
        // static stage artifacts (each the registered operator's plan);
        // the fingerprint is the SHARED curationFp definition — the
        // arrival-side check cannot drift from the batch pick
        val owners = TextQueries.curationGateRows(
            Tables.documentsSpread(s, d).select(col("doc_id"), col("text")))
          .select(col("doc_id"), TextQueries.curationFp(col("text")).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("owner_id"))
          .localCheckpoint()
        val dec = CurationQueries.queries("docs_decontaminate")(s, d)
          .select(col("doc_id")).localCheckpoint()
        val spans = TextQueries.queries("dedup_substring_spans")(s, d)
          .select(col("doc_id"), col("dup_tokens")).localCheckpoint()
        val emb = Tables.embeddingsSpread(s, d)
          .select(col("vec_id"), col("embedding"))
        // the arriving flow: gate → canonical-copy check → admission
        val gated = TextQueries.curationGateRows(
            src.select(col("doc_id"), col("text")))
          .withColumn("fp", TextQueries.curationFp(col("text")))
          .join(owners, "fp")
          .filter(col("owner_id") === col("doc_id"))
          .select(col("doc_id"), col("n_tokens"))
        val withVec = VectorQueries.semdedupAdmitStateless(
          gated.join(emb, col("doc_id") === col("vec_id"))
            .select(col("vec_id"), col("embedding").as("qe"), col("n_tokens")),
          s, d, VectorQueries.Quantizer.lloyd(s, d), carry = Seq(col("n_tokens")))
          .select(col("vec_id").as("doc_id"), col("n_tokens"))
        val noVec = gated
          .join(emb, col("doc_id") === col("vec_id"), "left_anti")
          .select(col("doc_id"), col("n_tokens"))
        withVec.unionByName(noVec)
          .join(dec, "doc_id")
          .join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
              .as("kept_tokens"))
      }, "kept_tokens")),

    // App-2's stateful keyed count as a genuine streaming job.
    "stream_count_by_key" -> ((s, d) =>
      runGate(s, d, Events)(
        _.groupBy(col("event_type").as("key")).agg(count(lit(1)).as("cnt")))),

    // Count-min sketch as STREAMING state: the counter matrix is a
    // plain streaming count aggregation — ≤ 4·2048 keys of state no
    // matter how many events flow (the sketch IS the bounded-state
    // design), exactly mergeable across micro-batches because counter
    // addition is associative. Estimation (probe + min-over-depths +
    // threshold) is a batch post-pass over the tiny built sketch —
    // same shared pieces as events_heavy_hitters, same oracle.
    "stream_events_heavy_hitters" -> ((s, d) =>
      TimeWindowQueries.cmsEstimate(
        runGate(s, d, Events)(TimeWindowQueries.cmsCounters(_)),
        Tables.events(s, d).select(col("user_id")))),

    // The reference's A1 fidelity contract, driver-gated: an emission
    // on EVERY increment (rainstorm/server.go:344-355), not one row per
    // micro-batch — flatMapGroupsWithState in Update mode. Which input
    // record receives which running count depends on shuffle arrival
    // order, but the emitted MULTISET per key is exactly {1..count} —
    // deterministic, so it oracles as a LATERAL range expansion.
    "stream_running_count" -> ((s, d) =>
      runGate(s, d, Events, Memory(OutputMode.Update()))(
        runningCount(StreamOps.runningCountPerRecord))),

    // The SAME A1 emission contract on Spark 4's arbitrary-state
    // successor API (transformWithState/StatefulProcessor) — the same
    // projection and the same oracle by construction (shared helpers),
    // so both state APIs are driver-verified, not just spec-compared.
    // The RocksDB provider is a requirement of the API, pinned for the
    // run (runGate restores the caller's conf afterwards).
    "stream_running_count_tws" -> ((s, d) =>
      runGate(s, d, Events, Memory(OutputMode.Update()), confs = RocksDb)(
        runningCount(StreamOps.runningCountPerRecordTws))),

    // Gap-based session windows as a genuine streaming job — the state
    // store merges/extends open sessions across micro-batches. Complete
    // mode (like the other windowed gates) so no window is withheld by
    // the final watermark.
    "stream_session_window" -> ((s, d) =>
      runGate(s, d, Events)(
        _.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("sstart"),
            col("session_window.end").cast("timestamp_ntz").as("send"),
            col("cnt")))),

    // Sliding event-time windows (1 hour every 30 minutes — each event
    // in exactly two epoch-aligned windows), streamed with a watermark.
    "stream_sliding_window" -> ((s, d) =>
      runGate(s, d, Events)(
        _.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("window.start").cast("timestamp_ntz").as("wstart"),
            col("event_type"), col("cnt")))),

    // Stream-stream INNER JOIN (the canonical Spark shape: equality key
    // + event-time range, watermarks on BOTH sides so join state is
    // evictable): clicks matched to same-user purchases within 30
    // minutes. Append mode — joins don't support Complete — so it runs
    // through the PRODUCTION parquet file sink like the tumbling/late
    // gates (result read back via the sink's commit log; no memory sink
    // in the plan), covering the stateful-join→file-sink path. A
    // self-join of one streaming source is deliberate: one scan feeds
    // both sides.
    "stream_join" -> ((s, d) =>
      runGate(s, d, Events, FileSink) { df =>
        val e = df.withColumn("ts", col("ts").cast("timestamp"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("cts"))
          .withWatermark("cts", "1 hour")
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"), col("ts").as("pts"))
          .withWatermark("pts", "1 hour")
        c.join(p, col("p_user") === col("user_id") &&
            col("pts") >= col("cts") &&
            col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            col("cts").cast("timestamp_ntz").as("click_ts"),
            col("pts").cast("timestamp_ntz").as("purchase_ts"))
      }),

    // Stream-STATIC join: the arriving fact stream enriched against a
    // static dimension — the third join regime next to batch joins and
    // the stream-stream join above. Stateless (no watermark, no join
    // state): each micro-batch hash-joins against the static side,
    // which Spark re-plans per batch and broadcasts when small. The
    // production shape for enriching a firehose with reference data.
    "stream_static_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
      runGate(s, d, Lineitem, Memory(OutputMode.Append()))(
        _.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("o_orderpriority")))
    }),

    // Exact content-dedup as a STREAMING job — the LLM-pipeline dedup
    // family on the engine's streaming face: fingerprint each arriving
    // document and emit each fingerprint once, with the dedup set in
    // the state store exactly like the reference's exactly-once
    // receive-dedup (F5, rainstorm/server.go:292-298). Output is the
    // fingerprint SET (not survivor doc_ids: which duplicate arrives
    // first is arrival-order-dependent; the set is deterministic). No
    // watermark: state is the full fingerprint universe, as in the
    // reference, whose dedup log also never expires. The BOUNDED
    // regime ships alongside: stream_dedup_events_wm (real event time,
    // exact eviction-replay oracle) and the *_wm arrival-time twins
    // for this corpus (chunks/phash/cdc/curation composite).
    "stream_dedup_docs" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(
        _.select(
            md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
              .cast("binary")).as("fingerprint"))
          .dropDuplicates("fingerprint"))),

    // ANN SERVING on the streaming face — the production shape where
    // the corpus sits still and QUERY vectors arrive as a stream:
    // three staged micro-batches of query vectors (qid % 3) each
    // stream-STATIC-join against the full embeddings corpus (the
    // static side is planned per micro-batch — no streaming state for
    // the corpus), score by the same exact-cosine dot as
    // ann_brute_topk, and rank through the BOUNDED-HEAP TopKAggregator
    // (VectorQueries.annStreamTopk): a window row_number is illegal
    // over a streaming frame, and the aggregator is the scale answer
    // anyway — ≤ 3 rows per (partition, query) shuffled, per-query
    // state bounded at k whatever the corpus size. Its
    // (score desc, id asc) order IS ann_brute_topk's tie-break, so the
    // oracle is ann_brute_topk's SQL verbatim. Brute force is the
    // exact-baseline face; at 10⁹ vectors the same streaming shape
    // composes with the LSH/IVF candidate pruning the batch family
    // already implements (annCandidates / cell probes). Each query's
    // top-3 completes within its batch; Complete mode re-emits the
    // final table, deterministic under any arrival order.
    "stream_ann_topk" -> ((s, d) => {
      val corpus = Tables.embeddingsSpread(s, d)
        .select(col("vec_id").as("nn_id"), col("embedding"))
      // The stream IS the query vectors (queryVectors: 5.41 → 3.35 s
      // median of cache-cleared reps at sf0.1 against staging a third of
      // the corpus per batch).
      runGate(s, d, Embeddings, staging = byMod("vec_id", 3, queryVectors))(df =>
        VectorQueries.annStreamTopk(
          df.select(col("vec_id").as("qid"), col("embedding").as("qe")), corpus))
    }),

    // ANN serving WITH IVF PRUNING — the composition stream_ann_topk's
    // comment promised: same staged query-vector stream, but the
    // static side is the CELL-ASSIGNED corpus and each arriving query
    // probes only its NProbe nearest cells before the bounded-heap
    // top-3 (plan + streaming-legality devices in
    // VectorQueries.annStreamIvfTopk). The oracle is ann_ivf_topk's
    // SQL verbatim — streaming ≡ batch for the pruned serving shape,
    // the exact analogue of stream_ann_topk ≡ ann_brute_topk.
    "stream_ann_ivf_topk" -> ((s, d) =>
      runGate(s, d, Embeddings, staging = byMod("vec_id", 3, queryVectors))(df =>
        VectorQueries.annStreamIvfTopk(
          df.select(col("vec_id").as("qid"), col("embedding").as("qe")), s, d))),

    // SEMANTIC-DEDUP ADMISSION — the curation face of the serving
    // story: centroids trained OFFLINE on the batch corpus collapse to
    // one broadcast row; each ARRIVING vector computes its own cell +
    // centroid similarity as a pure expression, joins only ITS cell's
    // static members, and is admitted iff none dominates it on the
    // SemDeDup (centroid-sim, id) key (plan + devices in
    // VectorQueries.semdedupStreamAdmit). Oracle is dedup_semdedup's
    // SQL verbatim — streaming admission ≡ the batch keep/drop
    // decision, the exact analogue of stream_ann_ivf_topk ≡
    // ann_ivf_topk. This is the shape that admits a new data shard
    // against a frozen curated corpus at 100 TB: broadcast centroids,
    // cell-partitioned index, per-arrival work bounded by cell width.
    "stream_semdedup" -> ((s, d) =>
      runGate(s, d, Embeddings, staging = byMod("vec_id", 4))(df =>
        VectorQueries.semdedupStreamAdmit(
          df.select(col("vec_id"), col("embedding").as("qe")), s, d,
          VectorQueries.Quantizer.labelMeans(s, d)))),

    // SemDeDup admission on the TRAINED quantizer — the same gate with
    // the Lloyd k-means cells (dedup_semdedup_kmeans's quantizer, the
    // paper's actual protocol): centroids trained offline, arriving
    // vectors assign by the quantizer's OWN min-L2 metric as a pure
    // broadcast expression, LEFT join their trained cell's static
    // members only. Oracle is dedup_semdedup_kmeans's SQL verbatim.
    "stream_semdedup_kmeans" -> ((s, d) =>
      runGate(s, d, Embeddings, staging = byMod("vec_id", 4))(df =>
        VectorQueries.semdedupStreamAdmit(
          df.select(col("vec_id"), col("embedding").as("qe")), s, d,
          VectorQueries.Quantizer.lloyd(s, d)))),

    // STREAMING QUANTIZER TRAINING — online mini-batch k-means (the
    // streaming story of the trained quantizer): the embeddings table arrives as FOUR deterministic
    // micro-batches (vec_id % 4); each arriving vector assigns to its
    // nearest frozen-quantizer cell as a pure broadcast expression and
    // the state store accumulates per-cell (count, Σ fixed-point
    // components) — exactly mergeable integer state, ≤ KmCells groups
    // × 65 longs whatever the stream length (plan + devices in
    // VectorQueries.kmStreamSums). The drained sums finish in a batch
    // post-pass (integer-exact means, empty-cell coalesce — the
    // cmsEstimate two-phase device) into the UPDATED centroid table in
    // long form. Because integer sums merge exactly across any batch
    // split, the streamed update over the union of arrived batches IS
    // batch Lloyd round KmRounds+1 — the oracle runs the training CTE
    // chain one round deeper, and StreamingSpec pins the same equality
    // (plus that the update actually moved the centroids) in-process.
    "stream_kmeans_update" -> ((s, d) => {
      // ONE training run shared by the arriving-side assignment and
      // the finish's empty-cell coalesce (the trained table is
      // driver-held; plans read it as a LocalRelation)
      val frozen = VectorQueries.Quantizer.lloyd(s, d)
      VectorQueries.kmStreamUpdateFinish(frozen,
        runGate(s, d, Embeddings, staging = byMod("vec_id", 4))(df =>
          VectorQueries.kmStreamSums(df.select(col("embedding").as("qe")), frozen)))
    }),

    // SEQUENTIAL mini-batch k-means — the ONLINE training protocol
    // next to stream_kmeans_update's order-free merged round:
    // MacQueen's running-mean update per micro-batch (Sculley
    // WWW'10), where each arriving batch assigns under the CURRENT
    // centroids and the centroids move BEFORE the next batch plans.
    // That feedback (a batch's output in the next batch's plan) is
    // exactly what foreachBatch exists for; the per-step state is
    // three ≤ KmCells-row tables (plan + devices in
    // VectorQueries.KmMiniBatch). Batch membership (vec_id % 4) and
    // mtime-staged ORDER are part of the contract — the oracle
    // unrolls the same four MacQueen steps CTE-for-CTE, so a wrong
    // arrival order would hash-mismatch, not just drift.
    "stream_kmeans_minibatch" -> ((s, d) =>
      runGate(s, d, Embeddings,
        kmSink(new VectorQueries.KmTrainOnly(s, d))(_.result()), KmStaging)(identity)),

    // ONLINE TRAINING COMPOSED WITH SERVING — the online-deployment
    // shape: each arriving batch's vectors are SERVED (assigned and
    // emitted) under the CURRENT centroids, the same assignment feeds
    // the MacQueen step, and the foreachBatch loop re-broadcasts the
    // UPDATED centroids into the NEXT batch's admission — training
    // and serving in one stream, one nearest-cell scan per batch
    // covering both halves (KmServeAssign). The emitted rows are each
    // batch's (vec_id, kcell) under its own centroid generation; the
    // oracle unrolls the same chain and unions the per-batch
    // assignment CTEs (mba0..mba3), so serving any batch under the
    // wrong generation hash-mismatches. StreamingSpec pins that later
    // batches really assign under MOVED centroids (batch 0 matches the
    // frozen assignment; some later batch differs from it).
    "stream_kmeans_online_serve" -> ((s, d) =>
      runGate(s, d, Embeddings,
        kmSink(new VectorQueries.KmServeAssign(s, d))(_.servedResult()),
        KmStaging)(identity)),

    // ONLINE ANN SERVING — the IVF face of the composition above: the
    // quantizer retrains from arriving traffic (the same MacQueen
    // loop), and each arriving batch's queries are served IVF top-3
    // with BOTH probe sides — the corpus inverted lists and the query
    // probe lists — under the CURRENT centroid generation, via the
    // shared exact re-rank tail (ivfTopkTail: the one definition all
    // IVF serving uses). This is the generation step with a threshold
    // that trips on every batch (KmRebuildAlways): one full-corpus
    // re-assignment per quantizer generation, each micro-batch one
    // epoch. The emission is query-count-bounded (≤ 3 rows per query,
    // each query served in exactly its arrival batch). Oracle: per
    // batch r a complete IVF chain under mbc$r, unioned — one
    // stale-generation index or probe list anywhere hash-mismatches.
    "stream_ann_ivf_online_topk" -> ((s, d) =>
      runGate(s, d, Embeddings, kmSink(new VectorQueries.KmIvfGenerations(s, d,
          VectorQueries.KmRebuildAlways, new VectorQueries.KmLists(s, d)))(
        _.servedTopkResult()), KmStaging)(identity)),

    // DRIFT-GATED online IVF serving — the epoch-rebuild cadence as a
    // measured knob: same stream, same MacQueen trainer, same
    // generation step, but the corpus inverted lists rebuild ONLY when
    // the quantizer has drifted past KmDriftRebuild since the last
    // rebuild (max per-cell squared L2 movement, exact fixed point);
    // intervening batches serve their queries from the STALE index,
    // probes under the same stale generation. Drift-gating amortizes
    // one rebuild over every batch whose quantizer movement stayed
    // under the threshold (re-assignment work sub-linear in batch
    // count, measured in ScalingCheck; recall cost of staleness
    // floor-pinned in VectorSpec). Oracle: the same unrolled chain
    // plus the drift rule in SQL — per batch the active generation g_r
    // is recomputed by the engine's own recurrence and the FULL
    // serving chain runs under mbc_{g_r}, so a wrong rebuild decision
    // anywhere hash-mismatches the emission
    // (kmOnlineIvfDriftTopkOracleSql).
    "stream_ann_ivf_online_topk_drift" -> ((s, d) =>
      runGate(s, d, Embeddings, kmSink(new VectorQueries.KmIvfGenerations(s, d,
          VectorQueries.KmDriftRebuild, new VectorQueries.KmLists(s, d)))(
        _.servedTopkResult()), KmStaging)(identity)),

    // PER-CELL INCREMENTAL REINDEXING — the finer protocol next to the
    // whole-index drift gate above (rebuild only cells whose centroid
    // moved past the threshold; serve the rest stale): each batch,
    // cells whose OWN centroid drifted past KmDriftRebuild since their
    // list was built re-assign their members under the CURRENT
    // quantizer and MIGRATE them into their new cells' lists (a
    // patchwork index — a migrating member may join a list that was
    // not itself rebuilt), unmoved cells keep their stale lists
    // untouched; probe lists are always FRESH (per-query expressions
    // under the current quantizer — the same batch scan feeds the
    // MacQueen step, so the one-scan contract holds on every batch).
    // Re-assignment work per batch is bounded by the moved cells'
    // member counts — the incremental cost (measured schedules, the
    // KmIvfIncr protocol driven batch-for-batch: after the 10-cell
    // initial build, 7/0/1 cells move at sf0.01, 4/0/1 at sf0.001,
    // 0/0/0 at sf0.1 — and recall 0.5567/0.6033/0.6100 matches or
    // BEATS the whole-index drift gate at every scale; VectorSpec pins
    // the sf0.01 schedule and floor). Measured directly as the members
    // of each batch's moved cells — the rows it actually re-assigned —
    // as a corpus fraction after the initial build: 0.716/0/0.036 at
    // sf0.01 (0.75 total vs always-rebuild's 3.0 full passes),
    // 0.428/0/0.028 at sf0.001, and 0/0/0 at sf0.1 — at 10x data the
    // patchwork index does ZERO re-assignment work after the initial
    // build while recall is the three gates' best. Oracle: the
    // per-cell drift rows, moved sets, member migrations and centroid
    // patches evolved batch-for-batch in SQL
    // (kmOnlineIvfIncrTopkOracleSql) — a member left behind or a
    // wrong moved set anywhere hash-mismatches.
    "stream_ann_ivf_online_topk_incr" -> ((s, d) =>
      runGate(s, d, Embeddings,
        kmSink(new VectorQueries.KmIvfIncr(s, d))(_.servedTopkResult()),
        KmStaging)(identity)),

    // STREAMING INGEST INTO THE PERSISTED INDEX — the production
    // ingestion path of ann_ivf_persisted_topk: arriving vectors
    // assign to their cell as a pure broadcast expression
    // (ivfArrivingAssign — no state, no shuffle) and land through
    // foreachBatch as ingest=batchId partitions inside their cell
    // directories: each micro-batch adds new files to its cells —
    // inverted lists grow by file append, existing lists are never
    // rewritten, and the write's dynamic partition overwrite keyed on
    // the batch id makes the ingest exactly-once (a redelivered batch
    // rewrites its own partitions). After the drain the full query
    // set serves FROM THE ARTIFACT through the shared storeServe
    // (probe join = partition-pruned read). Assignment under the
    // frozen quantizer is batch-invariant, so streaming ingest ≡
    // batch build and the oracle is ann_ivf_topk's verbatim — a row
    // mis-placed by the streaming write (wrong cell directory, lost
    // batch, double batch) hash-mismatches.
    "stream_ann_ivf_persisted_topk" -> ((s, d) =>
      ingestGate(s, d, VectorQueries.Codec.raw)),

    // STREAMING INGEST INTO THE PERSISTED CODE STORE — the same
    // ingest with the PQ codec: arriving vectors are PQ-quantized on
    // arrival (pqSubsOf — the batch face's exact arithmetic) against
    // the codec's offline-trained broadcast codebook (trained once per
    // gate, checkpointed, reused by serving), cell-assigned by the same
    // pure broadcast expression, PACKED to the array<tinyint> row, and
    // land as the same idempotent ingest=batchId partitions. Frozen
    // quantizer AND codebook make ingest batch-invariant, so
    // streaming ≡ batch build and the oracle is ann_ivfpq_topk's
    // VERBATIM — a code mis-packed, mis-quantized, or mis-placed by
    // any micro-batch hash-mismatches.
    "stream_ann_ivfpq_persisted_topk" -> ((s, d) =>
      ingestGate(s, d, VectorQueries.Codec.pq(s, d))),

    // DRIFT-REFRESHED PERSISTED INDEX — the drift gate's generation
    // step with the cell-partitioned raw-vector store as its artifact
    // (KmGenStore over the raw codec):
    // arriving vectors INGEST into the store (appends join the current
    // generation, assigned under ITS quantizer, as idempotent
    // ingest=batchId partitions), the MacQueen trainer drifts, and a
    // tripped KmDriftRebuild re-assigns the whole ARRIVED corpus into
    // a NEW generation directory — serving switches to it atomically
    // via the run root's LATEST marker. Every batch's queries serve
    // FROM THE ARTIFACT (broadcast probe join = partition-pruned read
    // of the current generation — PartitioningSpec pins files read).
    // At drain the run compacts its current generation per cell and
    // bounds itself to <= 2 generation children before it is published,
    // so an unattended run cleans up its own disk footprint. The
    // stream is stateless (file source → foreachBatch — no state store
    // ever instantiates), so it runs on the caller's session and no
    // state-store conf applies; its CORRECTNESS row is the gate
    // hash-matching its oracle. Oracle: the drift gate's unrolled
    // generation recurrence with the serving corpus restricted per
    // batch to what has arrived (kmOnlineIvfPersistedRefreshOracleSql)
    // — a skipped rebuild, a mis-assigned append, or serving a
    // superseded generation hash-mismatches the emission.
    "stream_ann_ivf_persisted_refresh" -> ((s, d) =>
      runGate(s, d, Embeddings,
        refreshSink(s, d, VectorQueries.Codec.raw), KmStaging)(identity)),

    // DRIFT-REFRESH × THE PERSISTED PQ CODE STORE — the same generation
    // step over the artifact actually worth persisting at 100 TB
    // (the PQ codec — 8 tinyint codes vs 64 floats per row): arriving
    // vectors PQ-encode under the frozen offline codebook and land as
    // packed ingest=batchId partitions in the current CODE generation;
    // a tripped KmDriftRebuild re-buckets the whole arrived code table
    // under the current quantizer into a new generation directory
    // (code bytes invariant — raw PQ under a frozen codebook; with
    // residual PQ a rebuild would have to re-encode, since codes would
    // depend on the cell centroids), serving switches atomically via
    // the run root's LATEST marker, and every batch's queries run the
    // ADC chain (broadcast LUT + probe-pruned artifact scan) FROM the
    // current generation; the drain-time lifecycle is the raw twin's.
    // Oracle: the shared drift recurrence composed over the ADC chain,
    // restricted per batch to the arrived corpus
    // (kmOnlineIvfPqPersistedRefreshOracleSql) — a skipped rebuild, a
    // mis-bucketed append, a mis-packed code, or a superseded
    // generation served hash-mismatches the emission.
    "stream_ann_ivfpq_persisted_refresh" -> ((s, d) =>
      runGate(s, d, Embeddings,
        refreshSink(s, d, VectorQueries.Codec.pq(s, d)), KmStaging)(identity)),

    // ONLINE BPE TRAINING — the tokenizer face of the online-training
    // trio (stream_kmeans_minibatch and the two online-serve gates
    // are the k-means faces): documents arrive as
    // four deterministic micro-batches and the merge table GROWS as
    // vocabulary arrives — each batch folds its word counts into the
    // cumulative dictionary (new words catch up by replaying every
    // prior round's admitted set through the shared one-pass apply),
    // then funds ONE batched-BPE round over the corpus-so-far, so
    // round r's merges are chosen by what had arrived when it ran.
    // State is the vocab-bounded (word, cnt, seq) dictionary plus the
    // m-row admitted sets, transactional per batch id (the KmMiniBatch
    // replay contract; TextQueries.BpeOnline). Oracle: the chain
    // unrolled batch-for-batch with the catch-up and the cumulative
    // weights stated in SQL (bpeTrainOnlineSql) — a late-arriving
    // word tokenized under the wrong generation hash-mismatches.
    "stream_bpe_train_online" -> ((s, d) =>
      runGate(s, d, Documents, {
        val st = new TextQueries.BpeOnline()
        StepSink(st.update, () => st.result())
      }, byMod("doc_id", TextQueries.BpeOnlineBatches))(identity)),

    // BPE SERVING — the tokenizer face of the ANN-serving story: the
    // merge table is trained ONCE, OFFLINE, on the batch corpus
    // (text_bpe_tokenize's exact training), collapses to the
    // vocab-bounded (word → subtoken count) map, and ARRIVING
    // documents (4 deterministic micro-batches) tokenize by exploding
    // to words and stream-static BROADCAST-joining that map — no
    // per-word re-merging, no training state in the stream, the only
    // stateful operator the doc-keyed budget aggregate. That is how a
    // tokenizer deploys over a 100 TB ingest: train offline, broadcast
    // the vocab (it is dictionary-sized by construction), meter token
    // budgets at arrival. Oracle is text_bpe_tokenize's SQL verbatim
    // (streaming ≡ batch; the map is shared via bpeSubtokenMap — one
    // definition, zero drift).
    "stream_bpe_tokenize" -> ((s, d) => {
      val nsub = TextQueries.bpeSubtokenMap(s, d).localCheckpoint()
      runGate(s, d, Documents, staging = byMod("doc_id", 4))(
        bpeServe(_, nsub, windowed = false))
    }),

    // ---- The BOUNDED-regime serving twins ----------------------------
    // Each Complete-mode serving gate above has exactly one unbounded-
    // state property: its per-key aggregation state accretes one group
    // per key EVER served, and every micro-batch re-emits the full
    // accumulated table. These four twins run the SAME serving bodies
    // (shared definitions — annStreamTopk / annStreamIvfTopk /
    // semdedupStreamAdmit / bpeServe, `windowed = true`) with the
    // state keyed by the (1-day arrival window, key) under a 1-hour
    // watermark, in APPEND mode through the PRODUCTION parquet sink:
    // closed windows evict (the dedup family's `_wm` regime, now on
    // the serving family), emission is exactly-once per window, and
    // the oracle is the batch SQL restricted to the emitted windows'
    // keys with the staged clock replayed (wmServeOracle). See
    // WmServeBatches for the shared geometry.

    // Exact-cosine ANN serving, bounded: arriving query vectors keyed
    // by (arrival window, qid); per-group state is the ≤ k-row heap,
    // evicted when the window closes.
    "stream_ann_topk_wm" -> ((s, d) => {
      val corpus = Tables.embeddingsSpread(s, d)
        .select(col("vec_id").as("nn_id"), col("embedding"))
      runGate(s, d, Embeddings, FileSink,
          byMod("vec_id", WmServeBatches, queryVectors))(df =>
        VectorQueries.annStreamTopk(
          df.select(col("vec_id").as("qid"), col("embedding").as("qe"))
            .withColumn("arrival_ts", stagedArrival("qid")),
          corpus, windowed = true))
    }),

    // IVF-pruned ANN serving, bounded: same probe-list devices as
    // stream_ann_ivf_topk; only the state regime changes.
    "stream_ann_ivf_topk_wm" -> ((s, d) =>
      runGate(s, d, Embeddings, FileSink,
          byMod("vec_id", WmServeBatches, queryVectors))(df =>
        VectorQueries.annStreamIvfTopk(
          df.select(col("vec_id").as("qid"), col("embedding").as("qe"))
            .withColumn("arrival_ts", stagedArrival("qid")),
          s, d, windowed = true))),

    // SemDeDup admission, bounded: the keep/drop decision per arriving
    // vector is unchanged (it depends only on the static cell index);
    // the admission flag's state row now lives in its arrival window
    // and evicts with it.
    "stream_semdedup_wm" -> ((s, d) =>
      runGate(s, d, Embeddings, FileSink, byMod("vec_id", WmServeBatches))(df =>
        VectorQueries.semdedupStreamAdmit(
          df.select(col("vec_id"), col("embedding").as("qe"))
            .withColumn("arrival_ts", stagedArrival("vec_id")),
          s, d, VectorQueries.Quantizer.labelMeans(s, d), windowed = true))),

    // The trained-quantizer admission gate, bounded: same Lloyd-cell
    // admission body under the arrival-window/watermark regime.
    "stream_semdedup_kmeans_wm" -> ((s, d) =>
      runGate(s, d, Embeddings, FileSink, byMod("vec_id", WmServeBatches))(df =>
        VectorQueries.semdedupStreamAdmit(
          df.select(col("vec_id"), col("embedding").as("qe"))
            .withColumn("arrival_ts", stagedArrival("vec_id")),
          s, d, VectorQueries.Quantizer.lloyd(s, d), windowed = true))),

    // BPE token metering, bounded: per-doc budgets keyed by the
    // arrival window — the served-corpus shape where a document's
    // budget row retires with its ingest horizon.
    "stream_bpe_tokenize_wm" -> ((s, d) => {
      val nsub = TextQueries.bpeSubtokenMap(s, d).localCheckpoint()
      runGate(s, d, Documents, FileSink, byMod("doc_id", WmServeBatches))(
        bpeServe(_, nsub, windowed = true))
    }),

    // The duplicated-gram inventory in the BOUNDED regime — the _wm
    // twin of the one family member that lacked one: gram-count state (exactly what explodes on a
    // boilerplate-heavy real corpus under Complete mode) is keyed by
    // (arrival-day window, gram) under an event-time watermark, so
    // CLOSED WINDOWS EVICT and the store holds only the open-horizon
    // inventory, never the full gram universe. Documents arrive as
    // four deterministic micro-batches (doc_id % 4) with the STAGED
    // arrival clock (batch b ⇒ arrival_ts = 2024-03-01 + b days — the
    // chunks_wm_evict device: a pure function of batch membership, so
    // the oracle replays the watermark exactly). Grams count within
    // their arrival-day tumbling window; Append emits a window's
    // duplicated grams once the final watermark (max arrival − 1 h)
    // passes its end — windows 0..1 emit, 2..3 are withheld by design
    // (the stream_tumbling_window cutoff, stated in the oracle). The
    // bounded-plateau-vs-Complete-twin claim is StreamingSpec's
    // (state rows track open windows only, while the unbounded twin
    // accretes every gram forever). The per-window inventory is the
    // operationally honest bounded semantics: cross-window duplicate
    // grams are the at-least-once residue outside the horizon — the
    // same contract as every other _wm twin — and the residue is
    // MEASURED, not just documented (CoreSpec, gate corpus at the
    // staged clock): 56.3% of duplicated grams / 57.7% of duplicate
    // mass fall outside single windows under this corpus's
    // UNIFORM-RANDOM doc→window assignment (a gram's copies land in
    // one of 4 windows independently — near the worst case; real
    // boilerplate is bursty in arrival time, which is exactly what
    // shrinks the residue, and widening the window or adding a
    // periodic batch re-sweep over the emitted inventories is the
    // standard recover-the-tail move).
    "stream_dedup_substring_wm" -> ((s, d) => {
      val nb = TextQueries.SubstrWmBatches // one constant, both faces
      runGate(s, d, Documents, Memory(OutputMode.Append()), byMod("doc_id", nb))(df =>
        TextQueries.substrGramRows(df.select(col("doc_id"), col("text")))
          .withColumn("arrival_ts",
            expr("cast('2024-03-01 00:00:00' as timestamp) + " +
              s"make_interval(0, 0, 0, cast(doc_id % $nb as int), 0, 0, 0)"))
          .withWatermark("arrival_ts", "1 hour")
          .groupBy(window(col("arrival_ts"), "1 day"), col("gram"))
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= 2L)
          .select(col("window.start").cast("timestamp_ntz").as("wstart"),
            col("gram"), col("occ")))
    }),

    // The ExactSubstr duplicated-gram inventory (what
    // dedup_substring_spans' span phase is driven by) built AS
    // STREAMING STATE: documents arrive as three deterministic
    // micro-batches (doc_id % 3), each arriving doc explodes through
    // the SAME substrGramRows window generator the batch operator uses
    // (stateless and window-free — exactly what makes it legal over a
    // streaming frame), and per-gram occurrence counts accumulate in
    // the state store across batches. The cross-batch substance is
    // real: a gram whose two occurrences arrive in DIFFERENT batches
    // reaches occ >= 2 only because the count state persisted between
    // them. Complete mode emits the final inventory, and the
    // (gram, occ) >= 2 SET is deterministic under any arrival order
    // (running counts per batch are not — same emit-the-SET reasoning
    // as stream_dedup_docs). State is the full gram-count inventory —
    // the unbounded regime, like stream_dedup_docs/chunks; the
    // watermark-bounded machinery these need at 100 TB is proven by
    // stream_dedup_events_wm and stream_dedup_chunks_wm_evict. The
    // gate keys state by the raw gram string so the oracle can state
    // the inventory portably; production (and the batch plan) keys the
    // fixed-width xxhash64 of it.
    "stream_dedup_substring" -> ((s, d) =>
      runGate(s, d, Documents, staging = byMod("doc_id", 3))(df =>
        TextQueries.substrGramRows(df.select(col("doc_id"), col("text")))
          .groupBy(col("gram")).agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= 2L))),

    // The incremental-ingest dedup (CurationQueries.dedup_incremental)
    // on the engine's streaming face — the production shape where the
    // historical store sits still and only the delta streams: arriving
    // documents fingerprint and anti-join against the store's DISTINCT
    // fingerprints as a stream-STATIC join (the static side carries no
    // streaming state — it is planned per micro-batch, fingerprints
    // only, never text), then first-arrival dedup WITHIN the delta
    // runs in the state store, whose size is bounded by the delta's
    // fingerprint universe, not the store's. Output is the surviving
    // fingerprint SET (deterministic under any arrival order).
    "stream_dedup_incremental" -> ((s, d) => {
      val store = Tables.documentsSpread(s, d)
        .filter(col("doc_id") % 4L =!= 0L)
        .select(md5(col("text").cast("binary")).as("fp")).distinct()
      runGate(s, d, Documents, Memory(OutputMode.Append()))(
        _.filter(col("doc_id") % 4L === 0L)
          .select(md5(col("text").cast("binary")).as("fp"))
          .join(store, Seq("fp"), "left_anti")
          .dropDuplicates("fp"))
    }),

    // Chunk-level dedup on the STREAMING face: arriving documents
    // explode into sub-document chunks (CurationQueries.chunkRows — the
    // identical narrow Generate the batch operators use) and each chunk
    // fingerprint is emitted exactly once, with the seen-set in the
    // state store. The streaming twin of dedup_chunks' survivor set —
    // which copy survives is arrival-order-dependent, so the gate
    // emits the deterministic fingerprint SET (same reasoning as
    // stream_dedup_docs). Also the only gate combining a streaming
    // Generate with stateful dedup.
    "stream_dedup_chunks" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(df =>
        CurationQueries.chunkRows(df.select(col("doc_id"), col("text")))
          .select(col("chunk_fp"))
          .dropDuplicates("chunk_fp"))),

    // CONTENT-DEFINED chunk dedup on the streaming face: arriving
    // documents chunk through the SAME pure-array cdcChunkRows the
    // batch operator uses — the span construction is all higher-order
    // functions + one narrow Generate, which is exactly what makes it
    // legal over a streaming frame (the window formulation wouldn't
    // be) — and each chunk fingerprint is emitted once with the
    // seen-set in the state store. Deterministic fingerprint SET out
    // (same reasoning as stream_dedup_chunks).
    "stream_dedup_cdc_chunks" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(df =>
        CurationQueries.cdcChunkRows(df.select(col("doc_id"), col("text")))
          .select(col("chunk_fp"))
          .dropDuplicates("chunk_fp"))),

    // Exact IMAGE dedup on the streaming face — the multimodal twin of
    // stream_dedup_docs: arriving documents synthesize into real PPM
    // payloads (incl. resize twins) via the SAME imageMediaRows the
    // batch phash operators use, each payload hashes through the
    // native PpmPhashBands expression, and each distinct phash is
    // emitted once with the seen-set in the state store. Output is the
    // deterministic distinct band-tuple SET (which image arrives first
    // is arrival-order-dependent; the set is not).
    "stream_dedup_phash" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(df =>
        MultimodalQueries
          .imageMediaRows(df.select(col("doc_id"), col("text"))).toDF()
          .select(graft.functions.BinaryFunctions
            .ppmPhashBands(col("payload")).as("bands"))
          .filter(col("bands").isNotNull)
          .select((0 until 8).map(i =>
            element_at(col("bands"), i + 1).as(s"b$i")): _*)
          .dropDuplicates((0 until 8).map(i => s"b$i")))),

    // Watermark-BOUNDED streaming dedup — the state regime the three
    // unbounded dedup gates (stream_dedup_docs/chunks/phash) need at
    // 100 TB, driver-gated with an EXACT cross-batch eviction oracle.
    // The events table arrives as FOUR time-ordered micro-batches
    // (fixed calendar cutoffs), each staged as one row per user_id with
    // that batch's MIN event time (deterministic expiry — within-batch
    // arrival order can never pick a different first row). The query is
    // StreamOps.dedupBoundedBy on user_id with a 12-hour delay:
    // exactly-once within the watermark horizon, re-emission beyond it.
    // The oracle replays the pinned eviction timing (measured here and
    // in StreamingSpec's model test): state is evicted at the END of
    // each batch using the watermark in force DURING it — ms-truncated
    // max event time over PRIOR batches minus delay — so batch b's
    // LOOKUPS see evictions by the watermark of two batches back
    // (batches 0 and 1 both run with the initial zero watermark; with
    // AvailableNow no no-data batch interleaves the planned file
    // batches to advance it early, which is what makes the replay
    // exact). An entry is live iff its ms-truncated FIRST-arrival time
    // + delay clears that watermark; duplicates never extend it. Four
    // batches exercise two distinct eviction rounds: at sf0.01 batch 2
    // re-emits the expired majority and batch 3 the complementary set.
    // Two pins: NoDataBatchesOff, and RocksDb — the bounded-state
    // showcase runs the production backend, not just the in-memory HDFS
    // provider. Eviction semantics are provider-independent
    // (StreamingSpec pins HDFS-vs-RocksDB equality); the gate proves
    // the oracle replay holds ON the production backend.
    "stream_dedup_events_wm" -> ((s, d) =>
      runGate(s, d, Events, FileSink,
        Batches(Seq(
          col("ts") < lit("2024-01-08").cast("timestamp_ntz"),
          col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
            col("ts") < lit("2024-01-15").cast("timestamp_ntz"),
          col("ts") >= lit("2024-01-15").cast("timestamp_ntz") &&
            col("ts") < lit("2024-01-22").cast("timestamp_ntz"),
          col("ts") >= lit("2024-01-22").cast("timestamp_ntz")),
          _.groupBy(col("user_id")).agg(min(col("ts")).as("ts"))),
        NoDataBatchesOff ++ RocksDb)(df =>
        StreamOps.dedupBoundedBy(
            df.withColumn("ts", col("ts").cast("timestamp")), "ts", "12 hours", "user_id")
          .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts")))),

    // ARRIVAL-time watermark-bounded chunk dedup CROSSING EVICTION
    // BOUNDARIES — closes the evidence gap the *_wm twins leave open
    // (their single-run oracles reduce to DISTINCT because nothing
    // evicts inside one run): here the run itself spans two eviction
    // rounds and the oracle replays them exactly. The documents table
    // arrives as FIVE micro-batches (doc_id % 5 — deterministic
    // content split), and the arrival clock is STAGED: batch b's rows
    // all carry arrival_ts = 2024-03-01 + b days, a pure function of
    // batch membership — the deterministic stand-in for
    // current_timestamp() (which IS the batch timestamp in production
    // but is wall-clock-valued, so no exact oracle could replay it).
    // Chunk fingerprints dedup through StreamOps.dedupBoundedBy with a
    // 6-HOUR delay against 1-day batch spacing, so an entry expires
    // before the NEXT batch's watermark: by the pinned eviction timing
    // (eviction at the end of batch b uses the watermark in force
    // DURING b = f(batches < b), so batch b's lookups see evictions by
    // f(batches < b-1)), the seen-set at batch b holds exactly the
    // incarnations last EMITTED in batches b-1 and b-2. The emitted
    // set per batch is therefore E_b = F_b \ (E_{b-1} ∪ E_{b-2})
    // (F_b = distinct fps in batch b) — two genuine re-emission rounds
    // at sf0.01 — and each emission carries its batch's arrival_ts,
    // pinning WHICH batch re-emitted. Pinned NoDataBatchesOff, as
    // stream_dedup_events_wm.
    "stream_dedup_chunks_wm_evict" -> ((s, d) =>
      runGate(s, d, Documents, FileSink, byMod("doc_id", 5), NoDataBatchesOff)(df =>
        StreamOps.dedupBoundedBy(
            CurationQueries.chunkRows(df.select(col("doc_id"), col("text")))
              .withColumn("arrival_ts",
                expr("cast('2024-03-01 00:00:00' as timestamp) + " +
                  "make_interval(0, 0, 0, cast(doc_id % 5 as int), 0, 0, 0)"))
              .select(col("chunk_fp"), col("arrival_ts")),
            "arrival_ts", "6 hours", "chunk_fp")
          .select(col("chunk_fp"),
            col("arrival_ts").cast("timestamp_ntz").as("arrival_ts")))),

    // ARRIVAL-time watermark-bounded chunk dedup — the bounded twin of
    // stream_dedup_chunks for corpora with no event-time column
    // (documents): the event time is the micro-batch's processing
    // timestamp (current_timestamp() is the batch timestamp under
    // Structured Streaming — deterministic per batch), so the seen-set
    // holds only the last `delay` of ARRIVALS at steady state instead
    // of every fingerprint ever ingested. Within one gate run arrivals
    // are monotone and span far less than the 1-day delay, so nothing
    // is evicted mid-run and the emitted set equals DISTINCT — which is
    // what lets the same batch oracle gate it exactly; the eviction
    // machinery itself is proven by stream_dedup_events_wm and the
    // StreamingSpec state-bound test.
    "stream_dedup_chunks_wm" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(df =>
        StreamOps.dedupBoundedBy(
            CurationQueries.chunkRows(df.select(col("doc_id"), col("text")))
              .select(col("chunk_fp"))
              .withColumn("arrival_ts", current_timestamp()),
            "arrival_ts", "1 day", "chunk_fp")
          .select(col("chunk_fp")))),

    // The same arrival-time bounded regime on the IMAGE face: phash
    // band-tuples deduped with the seen-set bounded by the 1-day
    // arrival watermark (same DISTINCT-equivalence argument as
    // stream_dedup_chunks_wm; same synthesis + native hash as
    // stream_dedup_phash).
    "stream_dedup_phash_wm" -> ((s, d) =>
      runGate(s, d, Documents, Memory(OutputMode.Append()))(df =>
        StreamOps.dedupBoundedBy(
            MultimodalQueries
              .imageMediaRows(df.select(col("doc_id"), col("text"))).toDF()
              .select(graft.functions.BinaryFunctions
                .ppmPhashBands(col("payload")).as("bands"))
              .filter(col("bands").isNotNull)
              .select((0 until 8).map(i =>
                element_at(col("bands"), i + 1).as(s"b$i")): _*)
              .withColumn("arrival_ts", current_timestamp()),
            "arrival_ts", "1 day", (0 until 8).map(i => s"b$i"): _*)
          .select((0 until 8).map(i => col(s"b$i")): _*))),

    // Event-time tumbling window aggregation with a watermark, streamed
    // through the PRODUCTION parquet file sink (Append mode, result read
    // back via the sink's commit log — no memory sink in this plan).
    // Only watermark-closed windows are emitted; the oracle states the
    // same cutoff.
    "stream_tumbling_window" -> ((s, d) =>
      runGate(s, d, Events, FileSink)(hourlyWindowCounts)),

    // LATE-DATA DROP, driver-gated: the events table arrives as THREE
    // micro-batches split by event_id mod 3. Spark's measured contract
    // (pinned on synthetic data in StreamingSpec): a late row is
    // dropped iff its window was ALREADY EMITTED — i.e. the window end
    // had passed the watermark of a COMPLETED batch (the watermark is
    // one-sided: late-but-not-yet-finalized rows still count). With
    // three batches: batch 0 establishes the watermark, batch 1's end
    // finalizes every window it has passed, batch 2's stragglers into
    // those finalized windows are dropped and each window still emits
    // exactly once — the semantics that bound streaming state at
    // 100 TB (without finalization, every straggler reopens
    // arbitrarily old windows forever). The oracle recomputes the
    // batch-0 watermark and the final watermark from the same mod-3
    // split and states the drop and the Append-emission cutoff
    // explicitly.
    "stream_late_data" -> ((s, d) =>
      runGate(s, d, Events, FileSink, byMod("event_id", 3))(hourlyWindowCounts))
  )

  /** Streaming ≡ batch for the composite: the emitted (split,
    * chunk_fp) set equals DISTINCT over the batch composition of the
    * same shared stages (curation gate CTEs → chunks over kept docs →
    * split case). One definition for both composite gates.
    */
  private lazy val curationPipelineOracle: String = s"""
      WITH ${TextQueries.curationGateSql},
      ${CurationQueries.chunksCtesFrom(
        "documents WHERE doc_id IN (SELECT doc_id FROM kept)")}
      SELECT DISTINCT ${CurationQueries.splitCaseSql} AS split, chunk_fp
      FROM chunks"""

  val oracle: Map[String, String] = Map(
    "stream_count_by_key" ->
      "SELECT event_type AS key, COUNT(*) AS cnt FROM events GROUP BY event_type",
    // Streaming ≡ batch for the sketch: counter addition is
    // associative, so the micro-batched build equals the one-pass
    // batch build — the oracle is events_heavy_hitters' verbatim.
    "stream_events_heavy_hitters" ->
      TimeWindowQueries.oracle("events_heavy_hitters"),
    // Streaming ≡ batch for the composite: the emitted (split,
    // chunk_fp) set equals DISTINCT over the batch composition of the
    // same shared stages (curation gate CTEs → chunks over kept docs
    // → split case).
    "stream_curation_pipeline" -> curationPipelineOracle,
    // Identical emitted set — the bounded twin differs only in state
    // regime (nothing evicts within a gate run).
    "stream_curation_pipeline_wm" -> curationPipelineOracle,
    // Streaming ≡ batch for set-valued dedup: the emitted fingerprint
    // set equals DISTINCT over the whole table.
    "stream_dedup_docs" -> """
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        AS fingerprint
      FROM documents""",
    // Streaming ≡ batch for ANN serving: per-query top-3 against the
    // static corpus is arrival-independent, so the oracle is the exact
    // brute-force definition verbatim.
    "stream_ann_topk" -> VectorQueries.oracle("ann_brute_topk"),
    // Streaming ≡ batch for the IVF-PRUNED serving shape: per-query
    // probe-cell selection and in-cell exact top-3 are arrival-
    // independent, so the oracle is the batch IVF definition verbatim
    // (the stream_ann_topk ≡ ann_brute_topk device, one rung down the
    // pruning ladder).
    "stream_ann_ivf_topk" -> VectorQueries.oracle("ann_ivf_topk"),
    // Streaming ≡ batch for SemDeDup admission: each arrival's
    // keep/drop decision depends only on the STATIC cell index, never
    // on other arrivals, so the oracle is the batch SemDeDup verbatim.
    "stream_semdedup" -> VectorQueries.oracle("dedup_semdedup"),
    "stream_semdedup_kmeans" -> VectorQueries.oracle("dedup_semdedup_kmeans"),
    // Streaming ≡ one more batch Lloyd round: integer per-cell sums
    // merge exactly across micro-batches, so the drained update over
    // all arrived batches equals km{KmRounds+1} of the batch training
    // chain (built in VectorQueries next to the chain it unrolls).
    "stream_kmeans_update" -> VectorQueries.kmStreamUpdateOracleSql,
    // The sequential trainer's oracle: four unrolled MacQueen steps
    // over the deterministic batch split — assignment under the
    // step's CURRENT centroids, cumulative integer sums, running
    // means with the frozen-cell coalesce (mbRoundSql, built next to
    // the loop it unrolls).
    "stream_kmeans_minibatch" -> VectorQueries.kmMiniBatchOracleSql,
    "stream_kmeans_online_serve" -> VectorQueries.kmOnlineServeOracleSql,
    "stream_ann_ivf_online_topk" -> VectorQueries.kmOnlineIvfTopkOracleSql,
    "stream_ann_ivf_online_topk_drift" ->
      VectorQueries.kmOnlineIvfDriftTopkOracleSql,
    "stream_ann_ivf_online_topk_incr" ->
      VectorQueries.kmOnlineIvfIncrTopkOracleSql,
    // the drift chain with the arrived-corpus restriction — the
    // persisted store holds exactly the ingested vectors, every row
    // assigned under the current generation's quantizer
    "stream_ann_ivf_persisted_refresh" ->
      VectorQueries.kmOnlineIvfPersistedRefreshOracleSql,
    // the same generation recurrence composed over the ADC chain —
    // the persisted CODE store's serving contract batch-for-batch
    "stream_ann_ivfpq_persisted_refresh" ->
      VectorQueries.kmOnlineIvfPqPersistedRefreshOracleSql,
    // streaming ≡ batch: the admission job emits exactly the batch
    // composite's survivors and the pack post-pass is the shared tail
    "stream_docs_curation_e2e_kmeans" ->
      CurationQueries.oracle("docs_curation_e2e_kmeans"),
    "stream_bpe_train_online" -> TextQueries.bpeTrainOnlineSql(),
    // streaming ingest ≡ batch build: the frozen-quantizer assignment
    // is batch-invariant, so the persisted-store serving matches the
    // in-plan face's oracle exactly
    "stream_ann_ivf_persisted_topk" -> VectorQueries.oracle("ann_ivf_topk"),
    // same argument for the code store: frozen quantizer + codebook
    // make the packed-code ingest batch-invariant
    "stream_ann_ivfpq_persisted_topk" ->
      VectorQueries.oracle("ann_ivfpq_topk"),
    // Streaming ≡ batch for the served token budgets: the offline-
    // trained vocab map is static, so per-doc totals are arrival-
    // order-independent whatever the batch split.
    "stream_bpe_tokenize" -> TextQueries.oracle("text_bpe_tokenize"),
    // The bounded serving twins: the batch oracle verbatim, restricted
    // to the emitted windows' keys with the staged clock replayed
    // (wmServeOracle — windows 0..1 of 4 emit under the final
    // watermark, the stream_dedup_substring_wm cutoff).
    "stream_ann_topk_wm" ->
      wmServeOracle(VectorQueries.oracle("ann_brute_topk"), "qid"),
    "stream_ann_ivf_topk_wm" ->
      wmServeOracle(VectorQueries.oracle("ann_ivf_topk"), "qid"),
    "stream_semdedup_wm" ->
      wmServeOracle(VectorQueries.oracle("dedup_semdedup"), "vec_id"),
    "stream_semdedup_kmeans_wm" ->
      wmServeOracle(VectorQueries.oracle("dedup_semdedup_kmeans"), "vec_id"),
    "stream_bpe_tokenize_wm" ->
      wmServeOracle(TextQueries.oracle("text_bpe_tokenize"), "doc_id"),
    // Watermark-bounded inventory: per-arrival-day duplicated-gram
    // counts with the Append cutoff stated explicitly (batches − 2 of
    // the 4 staged windows emit; shared gram enumeration CTE).
    "stream_dedup_substring_wm" ->
      TextQueries.substrDupWmSql(TextQueries.SubstrWmBatches),
    // Streaming ≡ batch for the duplicated-gram inventory: the final
    // Complete-mode counts equal the batch GROUP BY whatever the
    // batch split (shared definition in TextQueries.substrDupSql).
    "stream_dedup_substring" -> TextQueries.substrDupSql,
    // Streaming ≡ batch for the surviving-delta fingerprint set: the
    // stream-static anti join and the in-stream dedup reduce to the
    // same set algebra as dedup_incremental's, minus the survivor ids.
    "stream_dedup_incremental" -> """
      WITH store AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 4 != 0)
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE doc_id % 4 = 0
        AND NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = md5(documents.text))""",
    "stream_running_count" -> runningCountOracleSql,
    "stream_running_count_tws" -> runningCountOracleSql,
    // Streaming ≡ batch for the chunk-fingerprint set (chunksSql is the
    // SQL twin of the chunkRows both faces share).
    "stream_dedup_chunks" -> s"""
      ${CurationQueries.chunksSql}
      SELECT DISTINCT chunk_fp FROM chunks""",
    // Streaming ≡ batch for the CDC fingerprint set (cdcChunksCtes is
    // the shared SQL twin of cdcChunkRows).
    "stream_dedup_cdc_chunks" -> s"""
      WITH ${CurationQueries.cdcChunksCtes}
      SELECT DISTINCT chunk_fp FROM cdc""",
    // Streaming ≡ batch for the phash set (phashBandsCtes is the SQL
    // twin of the synthesis + hash both faces share).
    "stream_dedup_phash" -> s"""
      WITH ${MultimodalQueries.phashBandsCtes}
      SELECT DISTINCT ${(0 until 8).map(i => s"bs[${i + 1}] AS b$i").mkString(", ")}
      FROM bl""",
    // Watermark-bounded dedup replay, batch by batch. b0..b3 are the
    // staged micro-batches (one row per user: that batch's MIN event
    // time). Pinned timing (StreamingSpec's model test + this gate's
    // own measurement): eviction runs at the END of each batch with
    // the watermark in force DURING it (f(prior batches)), so batch
    // b's lookups see evictions by f(batches < b-1) — w0 = f(b0)
    // governs batch 2, w1 = f(b0,b1) governs batch 3, and batches 0/1
    // both run against the initial zero watermark. An entry is live
    // iff its ms-truncated FIRST-arrival time + delay clears the
    // governing watermark (duplicates never extend it; a re-emission
    // refreshes it — hence "latest emission wins" in live3). Keys with
    // live entries are dropped; keys whose entries expired RE-EMIT —
    // the bounded-state contract stated exactly.
    "stream_dedup_events_wm" -> """
      WITH b0 AS (SELECT user_id, MIN(ts) AS ts FROM events
                  WHERE ts < TIMESTAMP '2024-01-08' GROUP BY user_id),
      b1 AS (SELECT user_id, MIN(ts) AS ts FROM events
             WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
             GROUP BY user_id),
      b2 AS (SELECT user_id, MIN(ts) AS ts FROM events
             WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
             GROUP BY user_id),
      b3 AS (SELECT user_id, MIN(ts) AS ts FROM events
             WHERE ts >= TIMESTAMP '2024-01-22' GROUP BY user_id),
      w0 AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 12 HOURS AS w
             FROM b0),
      w1 AS (SELECT date_trunc('milliseconds',
               GREATEST((SELECT MAX(ts) FROM b0), (SELECT MAX(ts) FROM b1)))
               - INTERVAL 12 HOURS AS w),
      e1 AS (SELECT user_id, ts FROM b1
             WHERE user_id NOT IN (SELECT user_id FROM b0)),
      live2 AS (
        SELECT user_id FROM b0
        WHERE date_trunc('milliseconds', ts) + INTERVAL 12 HOURS
              >= (SELECT w FROM w0)
        UNION
        SELECT user_id FROM e1
        WHERE date_trunc('milliseconds', ts) + INTERVAL 12 HOURS
              >= (SELECT w FROM w0)),
      e2 AS (SELECT user_id, ts FROM b2
             WHERE user_id NOT IN (SELECT user_id FROM live2)),
      live3 AS (
        SELECT user_id FROM e2
        WHERE date_trunc('milliseconds', ts) + INTERVAL 12 HOURS
              >= (SELECT w FROM w1)
        UNION
        SELECT user_id FROM e1
        WHERE user_id NOT IN (SELECT user_id FROM e2)
          AND date_trunc('milliseconds', ts) + INTERVAL 12 HOURS
              >= (SELECT w FROM w1)
        UNION
        SELECT user_id FROM b0
        WHERE user_id NOT IN (SELECT user_id FROM e2)
          AND user_id NOT IN (SELECT user_id FROM e1)
          AND date_trunc('milliseconds', ts) + INTERVAL 12 HOURS
              >= (SELECT w FROM w1)),
      e3 AS (SELECT user_id, ts FROM b3
             WHERE user_id NOT IN (SELECT user_id FROM live3))
      SELECT user_id, ts FROM b0
      UNION ALL SELECT user_id, ts FROM e1
      UNION ALL SELECT user_id, ts FROM e2
      UNION ALL SELECT user_id, ts FROM e3""",
    // Arrival-time eviction replay: F_b = distinct chunk fps of batch
    // b (doc_id % 5), E_b = F_b \ (E_{b-1} ∪ E_{b-2}) — the seen-set
    // at batch b holds exactly the incarnations last emitted in the
    // two prior batches (6-hour delay, 1-day spacing, pinned eviction
    // timing: batch b's lookups see evictions by the watermark of two
    // batches back, under which an incarnation from batch i is live
    // iff A_{b-2} - A_i <= 2·delay iff i >= b-2). Each emission
    // carries its batch's staged arrival timestamp.
    "stream_dedup_chunks_wm_evict" -> s"""
      ${CurationQueries.chunksSql},
      ${(0 until 5).map(b =>
        s"f$b AS (SELECT DISTINCT chunk_fp FROM chunks WHERE doc_id % 5 = $b)")
        .mkString(",\n      ")},
      e0 AS (SELECT chunk_fp FROM f0),
      e1 AS (SELECT chunk_fp FROM f1
             WHERE chunk_fp NOT IN (SELECT chunk_fp FROM e0)),
      e2 AS (SELECT chunk_fp FROM f2
             WHERE chunk_fp NOT IN (SELECT chunk_fp FROM e0
                                    UNION SELECT chunk_fp FROM e1)),
      e3 AS (SELECT chunk_fp FROM f3
             WHERE chunk_fp NOT IN (SELECT chunk_fp FROM e1
                                    UNION SELECT chunk_fp FROM e2)),
      e4 AS (SELECT chunk_fp FROM f4
             WHERE chunk_fp NOT IN (SELECT chunk_fp FROM e2
                                    UNION SELECT chunk_fp FROM e3))
      ${(0 until 5).map(b =>
        s"SELECT chunk_fp, TIMESTAMP '2024-03-0${b + 1} 00:00:00' AS arrival_ts FROM e$b")
        .mkString("\n      UNION ALL ")}""",
    // Bounded-state twin ≡ DISTINCT within one run: arrivals are
    // monotone and the run spans far less than the 1-day delay, so no
    // entry is evicted mid-run (eviction semantics themselves are the
    // events_wm gate's job).
    "stream_dedup_chunks_wm" -> s"""
      ${CurationQueries.chunksSql}
      SELECT DISTINCT chunk_fp FROM chunks""",
    "stream_dedup_phash_wm" -> s"""
      WITH ${MultimodalQueries.phashBandsCtes}
      SELECT DISTINCT ${(0 until 8).map(i => s"bs[${i + 1}] AS b$i").mkString(", ")}
      FROM bl""",
    // Same gaps-and-islands construction as the batch q_session_window
    // oracle (>= gap starts a new session, half-open, per the playbook).
    "stream_session_window" -> """
      WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '2 hours'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sessions AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, MIN(ts) AS sstart,
             MAX(ts) + INTERVAL '2 hours' AS send, COUNT(*) AS cnt
      FROM sessions GROUP BY user_id, sid""",
    "stream_sliding_window" -> """
      SELECT time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes' AS wstart,
             event_type, COUNT(*) AS cnt
      FROM events CROSS JOIN (VALUES (0), (1)) t(o)
      GROUP BY 1, 2""",
    "stream_static_join" -> """
      SELECT l_orderkey, l_linenumber, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'""",
    "stream_join" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             c.ts AS click_ts, p.ts AS purchase_ts
      FROM events c JOIN events p
        ON c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",
    // Append-mode file-sink semantics, stated explicitly: a window is
    // emitted iff the final watermark (ms-truncated max event time
    // minus the 1-hour delay — Spark tracks watermarks in epoch ms)
    // has passed its end. Windows the watermark never closes are
    // withheld by design.
    "stream_tumbling_window" -> """
      SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
      HAVING wstart + INTERVAL 1 HOUR <=
             date_trunc('milliseconds', (SELECT MAX(ts) FROM events)) - INTERVAL 1 HOUR""",
    // Three-batch watermark replay. wm1 (from batch 0, event_id%3=0)
    // is the watermark during batch 1, whose END finalizes every
    // window with end <= wm1 — so batch 2's rows into those windows
    // are dropped; everything else counts. wmf (from all batches)
    // governs the Append emission cutoff (same rule as
    // stream_tumbling_window). Batch 1 rows are never dropped: the
    // only watermark that preceded them was batch 0's initial zero.
    "stream_late_data" -> """
      WITH wm1 AS (
        SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
        FROM events WHERE event_id % 3 = 0),
      wmf AS (
        SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
        FROM events),
      kept AS (
        SELECT ts, event_type FROM events WHERE event_id % 3 IN (0, 1)
        UNION ALL
        SELECT ts, event_type FROM events
        WHERE event_id % 3 = 2
          AND date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm1))
      SELECT date_trunc('hour', ts) AS wstart, event_type, COUNT(*) AS cnt
      FROM kept GROUP BY 1, 2
      HAVING wstart + INTERVAL 1 HOUR <= (SELECT w FROM wmf)"""
  )
}
