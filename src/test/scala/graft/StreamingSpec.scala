package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.Core
import graft.streaming.StreamOps

/** Streaming fidelity specs (SURVEY.md §5):
  *  - streaming result ≡ batch result for the same op composition;
  *  - update-mode keyed count emission (A1);
  *  - per-record running-count emission via flatMapGroupsWithState;
  *  - checkpoint kill/restart recovery without double-counting — the
  *    deterministic replacement for the reference's chaos demo (C4) and
  *    WAL replay (A2/C3, rainstorm/server.go:186-278).
  */
/** Kill switch for the chaos test — a static @volatile flag is visible
  * to executor threads in local mode (single JVM).
  */
object ChaosKill { @volatile var armed = false }

class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private def writeLines(dir: String, name: String, ls: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), String.join("\n", ls: _*).getBytes,
      StandardOpenOption.CREATE)

  test("app2 pipeline: streaming update-mode counts equal batch counts") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val source = ms.toDF().toDF("user", "event")
    val counted = Core.pipeline(source,
      Core.filterEqProject(col("event"), "click", col("user")),
      df => Core.countByKey(df))
    val q = counted.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("app2_counts").start()
    try {
      ms.addData(("u1", "click"), ("u2", "view"), ("u1", "click"))
      q.processAllAvailable()
      ms.addData(("u1", "click"), ("u3", "click"))
      q.processAllAvailable()
      // last update per key == batch count over the full input
      val updates = spark.table("app2_counts").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val lastPerKey = updates.zipWithIndex.groupBy(_._1._1)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
      assert(lastPerKey === Map("u1" -> 3L, "u3" -> 1L))
    } finally q.stop()
  }

  test("A1 fidelity: running count emits (key, n) on every increment") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Core.Record]
    val out = StreamOps.runningCountPerRecord(ms.toDS())
    val q = out.toDF("key", "n").writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("percord").start()
    try {
      ms.addData(Core.Record("1", "a", ""), Core.Record("2", "a", ""),
        Core.Record("3", "b", ""))
      q.processAllAvailable()
      ms.addData(Core.Record("4", "a", ""))
      q.processAllAvailable()
      val got = spark.table("percord").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // every intermediate count was emitted, exactly as the reference
      // does per increment (rainstorm/server.go:344-355)
      assert(got === Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L)))
    } finally q.stop()
  }

  test("A1 on transformWithState: the arbitrary-state successor API emits the same sequence") {
    implicit val sql = spark.sqlContext
    // transformWithState REQUIRES the RocksDB provider (the 100 TB
    // state backend is a precondition of the API, not a choice)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Core.Record]
      val out = StreamOps.runningCountPerRecordTws(ms.toDS())
      val q = out.toDF("key", "n").writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("percord_tws").start()
      try {
        ms.addData(Core.Record("1", "a", ""), Core.Record("2", "a", ""),
          Core.Record("3", "b", ""))
        q.processAllAvailable()
        ms.addData(Core.Record("4", "a", ""))
        q.processAllAvailable()
        val got = spark.table("percord_tws").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        // identical emission sequence to the flatMapGroupsWithState twin
        assert(got === Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L)))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("checkpoint restart recovers state and offsets exactly once") {
    val srcDir = tmpDir("stream-src")
    val ckpt = tmpDir("stream-ckpt")
    writeLines(srcDir, "f1.txt", Seq("click u1", "view u2", "click u1"))

    def runOnce(sinkName: String): Unit = {
      val source = spark.readStream.text(srcDir)
      val counts = source
        .filter(col("value").startsWith("click"))
        .select(substring_index(col("value"), " ", -1).as("key"))
        .groupBy("key").count()
      val q = counts.writeStream.outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(sinkName).start()
      q.awaitTermination()
    }

    runOnce("ckpt_run1")
    assert(spark.table("ckpt_run1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap === Map("u1" -> 2L))

    // "failure": the query is gone; new data arrives; a new incarnation
    // resumes from the same checkpoint.
    writeLines(srcDir, "f2.txt", Seq("click u1", "click u3"))
    runOnce("ckpt_run2")
    assert(spark.table("ckpt_run2").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("u1" -> 3L, "u3" -> 1L)) // f1 not re-counted, state recovered
  }

  test("mid-flight kill: task crash mid-micro-batch, restart is exactly-once") {
    // The reference's chaos demo kills two live op workers 1.5 s into a
    // running job and shows output equivalence (main.go:223-243,
    // rainstorm/server.go:543-572). Deterministic Spark analogue: a
    // poison record crashes an executor task WHILE micro-batch 1 is
    // executing — state updates and sink output for that batch are
    // uncommitted — then a new incarnation restarts from the same
    // checkpoint and must replay the batch exactly once. (Test-only
    // UDF: chaos injection needs a side effect no Column expression
    // should have.)
    val srcDir = tmpDir("chaos-src")
    val ckpt = tmpDir("chaos-ckpt")
    writeLines(srcDir, "f1.txt", Seq("click u1", "view u2", "click u1"))
    // Poison EVERY attempt while armed: with task retries enabled
    // (spark.task.maxFailures=4, set in GraftSession), a one-shot throw
    // is absorbed by the scheduler — that in-run failover is what the
    // RainStormWithFail verb covers (RainStormSpec). This test needs
    // the stronger failure: retries exhausted, the QUERY dies with the
    // micro-batch uncommitted, and a new incarnation must replay it
    // from the checkpoint exactly once.
    val killer = udf { (v: String) =>
      if (ChaosKill.armed && v == "click u3")
        throw new RuntimeException("chaos: injected mid-batch task kill")
      v
    }

    def pipeline(ck: String, sinkName: String): Either[Throwable, Unit] = {
      val counts = spark.readStream.text(srcDir)
        .select(killer(col("value")).as("value"))
        .filter(col("value").startsWith("click"))
        .select(substring_index(col("value"), " ", -1).as("key"))
        .groupBy("key").count()
      val q = counts.writeStream.outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .format("memory").queryName(sinkName).start()
      try { q.awaitTermination(); Right(()) }
      catch { case e: Throwable => q.stop(); Left(e) }
    }
    def result(sinkName: String): Map[String, Long] =
      spark.table(sinkName).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap

    assert(pipeline(ckpt, "chaos_run1").isRight) // batch 0 commits
    writeLines(srcDir, "f2.txt", Seq("click u3", "click u1"))
    ChaosKill.armed = true
    val killed = pipeline(ckpt, "chaos_run2")
    ChaosKill.armed = false // disarm: the restart below must succeed
    assert(killed.isLeft, "the armed poison record must crash the query")

    // Restart from the same checkpoint: the uncommitted batch replays.
    assert(pipeline(ckpt, "chaos_run3").isRight)
    // Control: the same input through an uninterrupted incarnation.
    val ckpt2 = tmpDir("chaos-ckpt-control")
    assert(pipeline(ckpt2, "chaos_control").isRight)
    assert(result("chaos_run3") === result("chaos_control"))
    assert(result("chaos_run3") === Map("u1" -> 3L, "u3" -> 1L))
  }

  test("runPipeline surfaces per-batch rows_in/rows_out on the listener bus") {
    // The production sink path must not run blind: runPipeline observes
    // both pipeline ends (Dataset.observe — the named aggregates ride
    // the job, zero extra passes per ExtensionsSpec) and a
    // PipelineMetricsListener accumulates them per query from progress
    // events — the reference leader's live progress surface
    // (rainstorm/server.go:306-310) without a second scan.
    val srcDir = tmpDir("obs-src")
    val ckpt = tmpDir("obs-ckpt")
    writeLines(srcDir, "f1.txt",
      Seq("click u1", "view u2", "click u1", "click u3"))
    val listener = new StreamOps.PipelineMetricsListener
    spark.streams.addListener(listener)
    try {
      val q = StreamOps.runPipeline(
        spark.readStream.text(srcDir),
        df => df.filter(col("value").startsWith("click"))
          .select(substring_index(col("value"), " ", -1).as("key")),
        df => Core.countByKey(df),
        OutputMode.Complete(), ckpt)
      q.awaitTermination()
      val id = q.id
      // progress events are posted asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 15000
      while (listener.rowsOut(id) == 0L && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.rowsIn(id) === 4L)  // every source line observed
      assert(listener.rowsOut(id) === 2L) // u1, u3 count rows emitted
    } finally spark.streams.removeListener(listener)
  }

  test("runPipeline file-sink branch writes exactly the transformed rows") {
    // the production parquet branch (sinkDir = Some): stateless ops in
    // Append mode, result read back from the sink directory, metrics
    // observed on the same run
    val srcDir = tmpDir("fsink-src")
    val ckpt = tmpDir("fsink-ckpt")
    val outDir = tmpDir("fsink-out")
    writeLines(srcDir, "f1.txt", Seq("click u1", "view u2", "click u9"))
    val listener = new StreamOps.PipelineMetricsListener
    spark.streams.addListener(listener)
    try {
      val q = StreamOps.runPipeline(
        spark.readStream.text(srcDir),
        df => df.filter(col("value").startsWith("click")),
        df => df.select(substring_index(col("value"), " ", -1).as("user")),
        OutputMode.Append(), ckpt, sinkDir = Some(outDir))
      q.awaitTermination()
      val got = spark.read.parquet(outDir).collect().map(_.getString(0)).toSet
      assert(got === Set("u1", "u9"))
      val deadline = System.currentTimeMillis() + 15000
      while (listener.rowsOut(q.id) == 0L && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.rowsIn(q.id) === 3L)
      assert(listener.rowsOut(q.id) === 2L)
    } finally spark.streams.removeListener(listener)
  }

  test("streaming curation composite: result and metrics totals equal the batch run") {
    // The driver-gated stream_curation_pipeline composes curation gate
    // → chunk → split → chunk-dedup through runPipeline's production
    // sink. Here: (a) the emitted (split, chunk_fp) set equals the
    // batch composition of the SAME shared stages, and (b) the
    // PipelineMetricsListener totals show every source document
    // observed (rows_in) and exactly the deduped set emitted
    // (rows_out) — the composition proof the per-operator gates can't
    // give individually.
    val d = "/root/testdata/sf0.001"
    val listener = new StreamOps.PipelineMetricsListener
    spark.streams.addListener(listener)
    try {
      val before = listener.snapshot.keySet
      val streamed = graft.queries.StreamingGateQueries
        .queries("stream_curation_pipeline")(spark, d)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val batch = graft.queries.StreamingGateQueries.curationOp2(
        graft.queries.StreamingGateQueries.curationOp1(docs))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      val nDocs = docs.count()
      val nOut = streamed.size.toLong
      // progress events are posted asynchronously; poll briefly for the
      // gate query's entry (keyed by its — unknown here — query id)
      val deadline = System.currentTimeMillis() + 15000
      def entries = (listener.snapshot -- before).values.toSeq
      while (!entries.contains((nDocs, nOut)) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(entries.contains((nDocs, nOut)),
        s"expected totals ($nDocs, $nOut) on the listener bus, saw $entries")
    } finally spark.streams.removeListener(listener)
  }

  test("memory-sink gates leave no temp view behind; their frames stay readable") {
    // Spark's memory sink registers a temp view holding the sink and
    // every row of the run; the gate runner drops it once it has taken
    // the frame, so repeated gate runs do not accrete rows in the
    // caller's catalog.
    val d = "/root/testdata/sf0.001"
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views
    val gates = graft.queries.StreamingGateQueries.queries
    val byKey = gates("stream_count_by_key")(spark, d)
    val heavy = gates("stream_events_heavy_hitters")(spark, d)
    assert(views === before, s"gates left temp views: ${views -- before}")
    assert(byKey.count() ===
      Tables.events(spark, d).select("event_type").distinct().count())
    assert(heavy.count() ===
      graft.queries.TimeWindowQueries.queries("events_heavy_hitters")(spark, d).count())
  }

  test("gate conf pins reach the stream and are restored afterwards, also on failure") {
    // The pinned gates set their confs on the caller's session for the
    // run only: afterwards every key reads as before (an unset key is
    // unset again), and the RocksDB pin is what the stream ran on.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    val d = "/root/testdata/sf0.001"
    val parts = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    def confs = Seq(parts, provider, noData).map(k => k -> spark.conf.getAll.get(k)).toMap
    val original = confs
    // one unset key, and a set key the gates pin to another value
    spark.conf.unset(provider)
    spark.conf.set(noData, "true")
    val before = confs
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.incrementAndGet()
    }
    val gates = graft.queries.StreamingGateQueries.queries
    spark.streams.addListener(listener)
    try {
      for ((gate, rocks) <- Seq("stream_running_count_tws" -> true,
                                "stream_dedup_events_wm" -> true,
                                "stream_dedup_chunks_wm_evict" -> false)) {
        progress.clear()
        val endedBefore = ended.get
        assert(gates(gate)(spark, d).count() > 0L)
        assert(confs === before, s"$gate changed the caller's confs")
        // progress events are posted asynchronously, ahead of the
        // query's termination event
        val deadline = System.currentTimeMillis() + 15000
        while (ended.get == endedBefore && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        val last = progress.asScala.toSeq.last
        val custom = last.stateOperators(0).customMetrics.keySet.asScala
        assert(custom.exists(_.startsWith("rocksdb")) === rocks,
          s"$gate: state metrics ${custom.mkString(", ")}")
      }
      // Failure inside the run: tables lacking a column the gate reads
      // (the running-count and chunk bodies; the events_wm staging).
      val bad = tmpDir("gate-pins-bad")
      def fixture(table: String, drop: String): Unit = {
        val out = s"$bad/$table-out"
        spark.read.parquet(s"$d/$table.parquet").drop(drop)
          .coalesce(1).write.mode("overwrite").parquet(out)
        val part = new java.io.File(out).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(bad, s"$table.parquet"))
      }
      for ((gate, table, drop) <- Seq(
             ("stream_running_count_tws", "events", "event_type"),
             ("stream_dedup_events_wm", "events", "user_id"),
             ("stream_dedup_chunks_wm_evict", "documents", "text"))) {
        new java.io.File(s"$bad/$table.parquet").delete()
        fixture(table, drop)
        intercept[Exception](gates(gate)(spark, bad).collect())
        assert(confs === before, s"a failed $gate changed the caller's confs")
      }
    } finally {
      spark.streams.removeListener(listener)
      original.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("streaming ANN serving equals the batch brute-force ranking") {
    // stream_ann_topk ranks with the bounded-heap TopKAggregator while
    // ann_brute_topk ranks with a window row_number — identical
    // results only if the aggregator's (score desc, id asc) order
    // really is the window's tie-break. Pin full row equality
    // (ranks AND rounded cosines) on the gate corpus.
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("nn_id"), col("rnk"), col("cos_sim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val streamed = rows(graft.queries.StreamingGateQueries
      .queries("stream_ann_topk")(spark, d))
    val batch = rows(graft.queries.VectorQueries
      .queries("ann_brute_topk")(spark, d))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming BPE serving equals the batch tokenize under the offline-trained vocab") {
    // stream_bpe_tokenize meters arriving docs (4 micro-batches)
    // against the SAME vocab-bounded subtoken map text_bpe_tokenize
    // broadcasts (shared via bpeSubtokenMap) — per-doc budgets must be
    // identical whatever the arrival split, and every arrival batch
    // must be represented in the final table (the cross-batch
    // accretion the Complete gate claims).
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val streamed = rows(graft.queries.StreamingGateQueries
      .queries("stream_bpe_tokenize")(spark, d))
    val batch = rows(graft.queries.TextQueries
      .queries("text_bpe_tokenize")(spark, d))
    assert(streamed === batch)
    assert(streamed.map(_._1 % 4).size === 4,
      "all four arrival micro-batches must reach the served table")
  }

  test("streaming SemDeDup admission equals the batch keep/drop decision") {
    // stream_semdedup computes each arrival's cell via the one-row
    // broadcast centroid expression and its dominance check against
    // the static cell index, while dedup_semdedup does both with a
    // corpus-wide max_by + self-join — identical results only if the
    // expression's (−adot, clabel) sort really is the batch max_by's
    // tie-break AND the dominance key arithmetic is bit-identical.
    // Pin full row equality and all-four-arrival-batch coverage.
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("cent_sim"), col("kept"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val streamed = rows(graft.queries.StreamingGateQueries
      .queries("stream_semdedup")(spark, d))
    val batch = rows(graft.queries.VectorQueries
      .queries("dedup_semdedup")(spark, d))
    assert(streamed === batch)
    assert(streamed.map(_._1 % 4).size === 4,
      "all four arrival micro-batches must reach the admission table")
  }

  test("streamed mini-batch k-means update equals the next batch Lloyd round") {
    // stream_kmeans_update's contract: per-cell integer (count, Σ
    // fixed-point) state merges EXACTLY across micro-batches, so the
    // drained update over the union of arrived batches IS batch Lloyd
    // round KmRounds+1. Pin three things: (a) row-exact equality with
    // the batch training chain run one round deeper; (b) the update
    // actually MOVED centroids (≠ the frozen round-KmRounds table —
    // otherwise a sink that re-emitted the broadcast input would
    // pass (a) trivially... it wouldn't, but a degenerate corpus
    // could); (c) cross-batch substance — some cell receives arrivals
    // from ≥ 2 staged batches, so the equality genuinely exercises
    // state merging, not four disjoint per-batch updates.
    val d = "/root/testdata/sf0.001"
    val kr = graft.queries.VectorQueries.KmRounds
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = rows(graft.queries.StreamingGateQueries
      .queries("stream_kmeans_update")(spark, d))
    val tables = graft.queries.VectorQueries.kmCentroidTables(spark, d, kr + 1)
    def unnest(q: graft.queries.VectorQueries.Quantizer) =
      rows(q.cents.select(col("cell"), posexplode(col("carr")).as(Seq("pos", "c")))
        .select(col("cell"), col("pos").cast("long"), col("c")))
    assert(streamed === unnest(tables.last),
      "streamed update must equal batch Lloyd round KmRounds+1")
    assert(streamed !== unnest(tables(kr)),
      "the streamed round should move at least one centroid component")
    val crossBatch = graft.queries.VectorQueries.queries("vec_kmeans_assign")(spark, d)
      .groupBy(col("cell"))
      .agg(countDistinct(col("vec_id") % 4).as("nb"))
      .filter(col("nb") >= 2L).count()
    assert(crossBatch > 0L,
      "no cell receives arrivals from two staged batches — the gate no longer exercises cross-batch state merging")
  }

  test("sequential mini-batch k-means follows a genuinely online trajectory") {
    // stream_kmeans_minibatch's exactness is the oracle's (four
    // unrolled MacQueen steps); this pins what makes it ONLINE: the
    // sequential result differs from BOTH the frozen quantizer (the
    // centroids moved) and stream_kmeans_update's order-free merged
    // round (assigning under moving centroids is a different — not
    // just reshuffled — computation). If either equality held, the
    // foreachBatch feedback loop would be decorative.
    val d = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val seqr = rows(graft.queries.StreamingGateQueries
      .queries("stream_kmeans_minibatch")(spark, d))
    val merged = rows(graft.queries.StreamingGateQueries
      .queries("stream_kmeans_update")(spark, d))
    val kr = graft.queries.VectorQueries.KmRounds
    val frozen = rows(graft.queries.VectorQueries
      .kmCentroidTables(spark, d, kr)(kr).cents
      .select(col("cell"), posexplode(col("carr")).as(Seq("pos", "c")))
      .select(col("cell"), col("pos").cast("long"), col("c")))
    assert(seqr.map(_._1) === frozen.map(_._1),
      "same cell geometry in and out")
    assert(seqr !== frozen, "the online steps must move the centroids")
    assert(seqr !== merged,
      "the online trajectory must differ from the merged one-shot round")
    // foreachBatch replay contract, on the train-only protocol and on
    // the persisted-refresh generation step (whose store writes precede
    // its commit point): a redelivered batch id is a no-op — the
    // cumulative sums cannot double-count a replayed batch, and the
    // step runs no Spark job at all.
    val vq = graft.queries.VectorQueries
    def emb(r: Int) = graft.Tables.embeddings(spark, d).filter(col("vec_id") % 4 === r)
    val b0 = emb(0)
    val b1 = emb(1)
    // The other direction of the replay contract: a step that FAILS
    // before its commit point must leave the id unapplied, so the
    // foreachBatch redelivery RE-APPLIES instead of silently dropping
    // the batch over half-updated state.
    val b2good = emb(2)
    val embType = b2good.schema("embedding").dataType
    val b2bad = b2good.select(col("vec_id"),
      when(col("vec_id") >= 0, raise_error(lit("injected mid-step failure")))
        .otherwise(lit(null)).cast(embType).as("embedding"))
    val refresh = new vq.KmIvfGenerations(spark, d, vq.KmDriftRebuild,
      new vq.KmGenStore(spark, d, vq.Codec.raw))
    // what each protocol publishes besides the centroids: the refresh
    // step's LATEST generation, rebuild log and emission
    val protocols: Seq[(vq.KmMiniBatch, () => Any)] = Seq(
      new vq.KmTrainOnly(spark, d) -> (() => ()),
      refresh -> (() => (vq.storeLatest(refresh.artifact.runRoot),
        refresh.rebuildLog, refresh.servedTopkResult().collect().toSet)))
    try for ((st, published) <- protocols) {
      st.step(b0, 0L)
      val once = rows(st.result())
      val pub0 = published()
      val (_, replayJobs) = org.apache.spark.graft.JobCount(spark.sparkContext) {
        st.step(b0, 0L) // replay of the committed id
      }
      assert(replayJobs === 0, s"replaying a committed batch id ran $replayJobs Spark jobs")
      assert(rows(st.result()) === once,
        "replaying a committed batch id must not change the centroids")
      assert(published() === pub0,
        "replaying a committed batch id must not move LATEST, the rebuild log or the emission")
      st.step(b1, 1L) // a genuinely new batch id is a real step
      val afterB1 = rows(st.result())
      assert(afterB1 !== once,
        "a new batch id must fold new data into the cumulative means")
      val pub1 = published()
      intercept[Exception] { st.step(b2bad, 2L) }
      assert(rows(st.result()) === afterB1,
        "a failed step must not move the published centroids")
      assert(published() === pub1,
        "a failed step must not move LATEST, the rebuild log or the emission")
      st.step(b2good, 2L) // redelivery of the FAILED id
      assert(rows(st.result()) !== afterB1,
        "redelivery of a failed batch id must re-apply, not no-op")
    } finally vq.deleteRecursively(new java.io.File(refresh.artifact.runRoot))
    assert(refresh.servedTopkResult().filter(col("qid") % 4 === 2).count() > 0,
      "the redelivered batch's queries must be served")
  }

  test("online serve-and-train: later batches assign under moved centroids") {
    // stream_kmeans_online_serve's exactness is the oracle's (the
    // per-batch mba$r union); this pins what makes the composition
    // ONLINE SERVING rather than decoration: batch 0's emissions
    // match the frozen-quantizer assignment exactly (nothing has
    // moved yet), and at least one later arrival is served into a
    // DIFFERENT cell than the frozen quantizer would have chosen —
    // the re-broadcast moved centroids are load-bearing in the
    // admission path, not just in the trainer's state.
    val d = "/root/testdata/sf0.001"
    val served = graft.queries.StreamingGateQueries
      .queries("stream_kmeans_online_serve")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val frozen = graft.queries.VectorQueries.queries("vec_kmeans_assign")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(served.keySet === frozen.keySet,
      "every arrival is served exactly once")
    val nb = graft.queries.VectorQueries.KmMbBatches
    val batch0 = frozen.keySet.filter(_ % nb == 0)
    assert(batch0.forall(id => served(id) == frozen(id)),
      "batch 0 must assign under the still-frozen quantizer")
    val moved = frozen.keySet.count(id => served(id) != frozen(id))
    info(s"arrivals served into a different cell than frozen: $moved")
    assert(moved > 0,
      "no later arrival was served differently — the moved centroids never reached the admission path")
  }

  test("online IVF serving: batch 0 sees the frozen index, later generations change answers") {
    // stream_ann_ivf_online_topk's exactness is the oracle's (per-batch
    // IVF chains under mbc$r, unioned); this pins what makes it ONLINE
    // ANN serving rather than decoration: batch 0's queries get the
    // frozen-quantizer serving answer EXACTLY (generation 0 IS the
    // frozen quantizer, index and probe lists alike), and at least one
    // later-batch query gets a DIFFERENT top-3 than frozen serving
    // would give — the re-broadcast moved centroids are load-bearing
    // in both probe sides, not just in the trainer's state (64 of 75
    // later-batch queries differ at sf0.001).
    val d = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val servedRows = rows(graft.queries.StreamingGateQueries
      .queries("stream_ann_ivf_online_topk")(spark, d))
    val frozenRows = rows(vq.ivfTopk(spark, d, vq.Quantizer.lloyd(spark, d), vq.Codec.raw))
    val (served, frozen) = (servedRows.toSet, frozenRows.toSet)
    // exactly-once is pinned on ROW COUNTS, not the qid set (a query
    // double-served under two generations, or a replayed batch
    // double-appended, would collapse in the set — code-review r15)
    assert(servedRows.length === served.size, "no duplicate emissions")
    assert(servedRows.length === frozenRows.length,
      "3 rows per query — a query served in two generations would add rows")
    assert(served.map(_._1) === frozen.map(_._1),
      "every query is served, in its arrival batch")
    val nb = vq.KmMbBatches
    assert(served.filter(_._1 % nb == 0) === frozen.filter(_._1 % nb == 0),
      "batch 0 must be served by the still-frozen quantizer, index and probes alike")
    val movedQ = (served diff frozen).map(_._1)
    info(s"later-batch queries whose top-3 differs from frozen serving: ${movedQ.size}")
    assert(movedQ.nonEmpty,
      "no later query answered differently — the moved generations never reached the serving path")
  }

  test("streaming gram-count state crosses micro-batches: inventory equals batch, splits overlap") {
    // stream_dedup_substring's claim is that per-gram occurrence
    // counts ACCUMULATE across the three staged doc_id%3 batches. Pin
    // both halves: (a) the streamed duplicated-gram inventory equals
    // the batch GROUP BY, and (b) the corpus genuinely has duplicated
    // grams whose occurrences span >= 2 different batches (751 at
    // sf0.001) — without (b) a state store that dropped counts at
    // every batch boundary would still pass (a).
    val d = "/root/testdata/sf0.001"
    val streamed = graft.queries.StreamingGateQueries
      .queries("stream_dedup_substring")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val grams = graft.queries.TextQueries.substrGramRows(
      spark.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text")))
    val batch = grams.groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    val crossBatch = grams
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id") % 3).as("nb"), count(lit(1)).as("occ"))
      .filter(col("occ") >= 2L && col("nb") >= 2L)
      .count()
    assert(crossBatch > 0L,
      "no duplicated gram spans two staged batches — the gate no longer exercises cross-batch state")
  }

  test("streaming dedup drops redelivered ids (F5)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("id", "ts", "v")
    val q = StreamOps.dedupById(df, "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_sink").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
      ms.addData(("a", t, "x"), ("a", t, "x"), ("b", t, "y"))
      q.processAllAvailable()
      // Redelivery in a later micro-batch with a DIFFERENT event time:
      // the reference dedups on record id alone (processedRecordIDs,
      // server.go:292-298), so this must be dropped too.
      ms.addData(("a", t2, "x"))
      q.processAllAvailable()
      assert(spark.table("dedup_sink").count() === 2)
    } finally q.stop()
  }

  test("foreachBatch idempotent sink: batch replay writes no duplicates") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    // idempotent sink contract: keyed by batchId, replay overwrites
    val sink = scala.collection.concurrent.TrieMap[Long, Array[(String, Long)]]()
    val q = ms.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val rows = batch.collect().map(r => (r.getString(0), r.getLong(1)))
        sink.put(batchId, rows) // put, not append: replays are absorbed
        ()
      }
      .start()
    try {
      ms.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      ms.addData(("c", 3L))
      q.processAllAvailable()
      val all = sink.values.flatten.toSeq.sorted
      assert(all === Seq(("a", 1L), ("b", 2L), ("c", 3L)))
      // simulate a replay of batch 0 (what restart-after-crash does):
      // the keyed put leaves the sink unchanged
      sink.put(0L, sink(0L))
      assert(sink.values.flatten.toSeq.sorted === all)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped (append mode)") {
    implicit val sql = spark.sqlContext
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val agg = ms.toDF().toDF("k", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("k")).count()
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_sink").start()
    try {
      ms.addData(("a", ts(1)))
      q.processAllAvailable()          // watermark -> 00:00
      ms.addData(("a", ts(10)))        // advances watermark to 09:00
      q.processAllAvailable()
      ms.addData(("a", ts(1)))         // late by 8h: must be dropped
      ms.addData(("a", ts(11)))
      q.processAllAvailable()
      ms.addData(("a", ts(23)))        // close all windows
      q.processAllAvailable()
      val counts = spark.table("late_sink").collect()
        .map(r => (r.getStruct(0).getTimestamp(0), r.getLong(2))).toMap
      assert(counts(ts(1)) === 1L)     // the late duplicate did NOT count
      assert(counts(ts(10)) === 1L && counts(ts(11)) === 1L)
    } finally q.stop()
  }

  test("watermark finalization: non-strict drop boundary, exactly-once emission") {
    // The boundary contract StreamingGateQueries.stream_late_data's
    // oracle encodes, pinned on synthetic data (measured — the late
    // FILTER uses the PREVIOUS batch's watermark, eviction/emission
    // the current one; the gate itself pins the one-batch lag, since
    // its oracle keeps ALL batch-1 rows):
    //  1. drop boundary is NON-STRICT: with the watermark at 11:00, a
    //     row into [10:00,11:00) (window end == watermark) is dropped;
    //  2. a row into a window the watermark has not passed is counted
    //     no matter when it arrives (11:30 after the 12:00 row);
    //  3. an emitted window is closed exactly once: a straggler into
    //     it is dropped, never re-counted or re-emitted (11:45 after
    //     [11:00,12:00) emitted).
    implicit val sql = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val agg = ms.toDF().toDF("k", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("k")).count()
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_contract").start()
    try {
      ms.addData(("a", ts("12:00")))
      q.processAllAvailable()                    // watermark -> 11:00
      ms.addData(("a", ts("11:30")), ("a", ts("10:30")))
      q.processAllAvailable()   // 10:30 dropped AT the boundary; 11:30 kept
      ms.addData(("a", ts("15:00")))
      q.processAllAvailable()   // watermark 14:00 emits [11:00) and [12:00)
      ms.addData(("a", ts("11:45")), ("a", ts("18:00")))
      q.processAllAvailable()   // straggler into emitted [11:00) dropped
      val rows = spark.table("wm_contract").collect()
        .map(r => (r.getStruct(0).getTimestamp(0), r.getLong(2)))
      assert(rows.length === rows.map(_._1).distinct.length,
        "a window must be emitted exactly once")
      val counts = rows.toMap
      assert(!counts.contains(ts("10:00")),
        "window ending exactly AT the watermark is already closed (non-strict)")
      assert(counts(ts("11:00")) === 1L,
        "late-arriving row into a still-open window counts; straggler after emission doesn't")
      assert(counts(ts("12:00")) === 1L && counts(ts("15:00")) === 1L)
      assert(rows.map(_._2).sum === 3L)
    } finally q.stop()
  }

  test("dedupBoundedBy: first-arrival expiry, end-of-batch eviction, re-emission") {
    // The exact model the stream_dedup_events_wm oracle replays,
    // pinned on synthetic data with no-data micro-batches DISABLED —
    // the driver gate's AvailableNow file stream never interleaves
    // one between planned batches, and a no-data batch would advance
    // the watermark (and run evictions) a batch early. Measured:
    //  1. eviction runs at the END of each batch with the watermark
    //     in force DURING it — max event time over PRIOR batches
    //     minus delay — so batch b's LOOKUPS see evictions by the
    //     watermark of two batches back: A/X (expiry 11:00) are
    //     still live in batch 2 (eviction after batch 1 used batch
    //     0's watermark 09:00) but GONE in batch 3 (eviction after
    //     batch 2 used 11:30);
    //  2. duplicates do NOT extend an entry's expiry (X's 12:30 and
    //     13:00 dups are dropped, yet X still re-emits at 15:00 —
    //     the first-arrival expiry 11:00 governed throughout);
    //  3. an evicted key re-arriving is RE-EMITTED: bounded state
    //     means exactly-once within the horizon, not forever.
    implicit val sql = spark.sqlContext
    val confKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "false")
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamOps.dedupBoundedBy(
      ms.toDF().toDF("k", "ts"), "ts", "1 hour", "k")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_dedup_model").start()
    try {
      ms.addData(("A", ts("10:00")), ("X", ts("10:00")), ("F", ts("10:00")))
      q.processAllAvailable() // all emit, expiry 11:00; evict with wm 0
      ms.addData(("G", ts("12:30")), ("X", ts("12:30")))
      q.processAllAvailable() // X dropped (live); evict with wm 09:00
      ms.addData(("A", ts("13:00")), ("X", ts("13:00")))
      q.processAllAvailable() // A/X STILL live -> dropped; evict with wm 11:30
      ms.addData(("A", ts("15:00")), ("X", ts("15:00")))
      q.processAllAvailable() // entries evicted at 11:30: both re-emit
      val rows = spark.table("wm_dedup_model").collect()
        .map(r => (r.getString(0), r.getTimestamp(1))).toSet
      assert(rows === Set(
        ("A", ts("10:00")), ("X", ts("10:00")), ("F", ts("10:00")),
        ("G", ts("12:30")),
        ("A", ts("15:00")), ("X", ts("15:00"))))
    } finally {
      q.stop()
      prevNd match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("dedupBoundedBy state stays bounded across batches while dropDuplicates grows") {
    // THE 100 TB property the watermark-bounded twins buy: plain
    // dropDuplicates accretes one state row per distinct key forever;
    // dedupBoundedBy holds only the keys inside the watermark horizon.
    // Five batches, ten fresh keys each, event time advancing 2 h per
    // batch, 30 min delay: the unbounded twin ends at 50 state rows
    // (and grows linearly with batches), the bounded one holds the
    // last two batches' keys — a plateau, not a slope.
    implicit val sql = spark.sqlContext
    def run(bounded: Boolean): Seq[Long] = {
      val ms = MemoryStream[(String, java.sql.Timestamp)]
      val df = ms.toDF().toDF("k", "ts")
      val out =
        if (bounded) StreamOps.dedupBoundedBy(df, "ts", "30 minutes", "k")
        else df.dropDuplicates("k")
      val name = s"wm_growth_${if (bounded) "b" else "u"}"
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        (0 until 5).foreach { b =>
          val t = java.sql.Timestamp.valueOf(f"2024-01-01 ${2 * b}%02d:00:00")
          ms.addData((0 until 10).map(i => (s"k${b}_$i", t)): _*)
          q.processAllAvailable()
        }
        assert(spark.table(name).count() === 50L) // all keys distinct: same output
        q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
      } finally q.stop()
    }
    val unbounded = run(bounded = false)
    val bounded = run(bounded = true)
    assert(unbounded.max === 50L, s"unbounded state must reach every key: $unbounded")
    assert(bounded.max <= 20L,
      s"bounded state must never exceed the two-batch horizon: $bounded")
  }

  test("windowed substring inventory: state tracks open windows while the Complete twin accretes") {
    // stream_dedup_substring_wm's 100 TB claim, measured on synthetic
    // batches: the Complete-mode gram-count inventory accretes one
    // state row per distinct gram FOREVER (exactly the state that
    // explodes on a boilerplate-heavy corpus), while the (arrival-day
    // window, gram) formulation under a watermark EVICTS closed
    // windows — state plateaus at the open-horizon inventory. Eight
    // batches, each two identical fresh docs (so every gram reaches
    // occ = 2), arrival advancing one day per batch, 1-hour delay:
    // the unbounded twin ends holding all 8 batches' grams; the
    // bounded one holds at most ~3 open windows' worth (the window
    // whose batch is in flight, plus up to two predecessors pending
    // the watermark's one-batch lag).
    implicit val sql = spark.sqlContext
    def mkText(b: Int) = (0 until 17).map(i => s"w${b}_$i").mkString(" ")
    def gramsOf(df: org.apache.spark.sql.DataFrame) =
      graft.queries.TextQueries.substrGramRows(df)
        .withColumn("arrival_ts",
          expr("cast('2024-01-01 00:00:00' as timestamp) + " +
            "make_interval(0, 0, 0, cast(doc_id % 8 as int), 0, 0, 0)"))
    def run(bounded: Boolean): (Long, Seq[Long]) = {
      val ms = MemoryStream[(Long, String)]
      val df = ms.toDF().toDF("doc_id", "text")
      val out =
        if (bounded)
          gramsOf(df).withWatermark("arrival_ts", "1 hour")
            .groupBy(window(col("arrival_ts"), "1 day"), col("gram"))
            .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2L)
            .select(col("window.start").as("wstart"), col("gram"), col("occ"))
        else
          gramsOf(df).groupBy(col("gram"))
            .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2L)
      val name = s"substr_wm_${if (bounded) "b" else "u"}"
      val q = out.writeStream
        .outputMode(if (bounded) OutputMode.Append() else OutputMode.Complete())
        .format("memory").queryName(name).start()
      try {
        (0 until 8).foreach { b =>
          // two ids ≡ b (mod 8): same arrival day, identical text
          ms.addData((b.toLong, mkText(b)), (b + 8L, mkText(b)))
          q.processAllAvailable()
        }
        (spark.table(name).count(),
          q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)))
      } finally q.stop()
    }
    val (uRows, uState) = run(bounded = false)
    val (bRows, bState) = run(bounded = true)
    val gramsPerBatch = uRows / 8 // identical text structure per batch
    assert(gramsPerBatch > 0, s"synthetic docs produced no grams: $uRows")
    // final watermark = day 7 − 1h ⇒ windows 0..5 emit, 6..7 withheld
    assert(bRows === 6 * gramsPerBatch,
      s"bounded twin must emit exactly the closed windows: $bRows of $uRows")
    assert(uState.max === 8 * gramsPerBatch,
      s"unbounded inventory must accrete every gram: $uState")
    assert(bState.max <= 4 * gramsPerBatch,
      s"bounded state must plateau at the open horizon: $bState")
  }

  test("streaming k-means update state is bounded by the cell geometry, not the stream") {
    // stream_kmeans_update's 100 TB claim, measured on synthetic
    // batches: the only stateful operator is the per-cell sum table,
    // so state rows are ≤ the CELL COUNT whatever the arrival volume
    // (the CMS property on centroid training). Five batches × 40
    // fresh vectors against a 3-cell frozen quantizer: 200 arrivals,
    // state never exceeds 3 rows, and the final sums count all 200 —
    // cross-batch merging, not per-batch resets.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val cents = graft.queries.VectorQueries.Quantizer.trained(spark,
      (0 until 3).map(k => k.toLong -> Array.fill(64)(k * 10.0)))
    val ms = MemoryStream[Seq[Float]]
    val out = graft.queries.VectorQueries.kmStreamSums(
      ms.toDF().toDF("qe"), cents)
    val q = out.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("km_state_bound").start()
    try {
      (0 until 5).foreach { b =>
        ms.addData((0 until 40).map(i =>
          Seq.tabulate(64)(_ => ((b * 40 + i) % 25).toFloat)): _*)
        q.processAllAvailable()
      }
      val t = spark.table("km_state_bound")
      assert(t.count() <= 3L, "sums table larger than the cell count")
      assert(t.agg(sum(col("n"))).head.getLong(0) === 200L,
        "every arrival must be counted exactly once across batches")
      val state = q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(state.nonEmpty && state.max <= 3L,
        s"state must be bounded by cell count: $state")
    } finally q.stop()
  }

  test("stream_ann_ivf_topk: probe pruning holds the batch IVF recall on the streaming face") {
    // The oracle pins streaming ≡ batch (ann_ivf_topk verbatim); this
    // spec pins the QUALITY floor against ground truth: the pruned
    // serving gate must keep the batch IVF family's measured recall
    // vs the exact brute-force baseline (0.53 on the gate corpus;
    // floor at the family's 0.30 — same floor as VectorSpec's batch
    // IVF test, because the streaming face computes the identical
    // probe set).
    val d = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(
      graft.queries.VectorQueries.queries("ann_brute_topk")(spark, d))
    val streamed = pairs(
      graft.queries.StreamingGateQueries.queries("stream_ann_ivf_topk")(spark, d))
    val recall = streamed.intersect(brute).size.toDouble / brute.size
    info(s"stream ivf recall@3 vs brute: $recall")
    assert(streamed.groupBy(_._1).size === 100, "every query must be served")
    assert(recall >= 0.30, s"streamed IVF recall@3 $recall below the family floor")
  }

  // ---- Serving-quartet state regimes (r12 verdict #1) --------------
  // The four `*_wm` serving twins' 100 TB claim, measured per gate:
  // the Complete-mode gate accretes one state group per key EVER
  // served (and would grow without bound over a serving ingest), while
  // the windowed twin under the arrival watermark EVICTS closed
  // windows — state plateaus at the open horizon. Eight staged arrival
  // days (key % 8, one day apart, 1-hour delay): after batch b the
  // watermark is day b − 1 h, so windows ≤ b−2 are evicted during the
  // run and the bounded trace can never exceed ~3 open windows' groups;
  // the final watermark emits windows 0..5, so the bounded output is
  // exactly the Complete result restricted to keys ≡ 0..5 (mod 8).

  /** Run a serving body in one regime over 8 staged MemoryStream
    * batches; returns (emitted rows, state-row trace).
    */
  private def servingStateTrace(out: org.apache.spark.sql.DataFrame,
                                windowed: Boolean,
                                feed: Int => Unit,
                                name: String): (Set[org.apache.spark.sql.Row], Seq[Long]) = {
    val q = out.writeStream
      .outputMode(if (windowed) OutputMode.Append() else OutputMode.Complete())
      .format("memory").queryName(name).start()
    try {
      (0 until 8).foreach { b => feed(b); q.processAllAvailable() }
      (spark.table(name).drop("wstart").collect().toSet,
        q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)))
    } finally q.stop()
  }

  /** The shared assertion: bounded rows == Complete rows restricted to
    * the emitted keys; Complete state accretes every group; bounded
    * state plateaus at the open horizon (≤ half the groups).
    */
  private def assertServingPlateau(gate: String,
                                   run: Boolean => (Set[org.apache.spark.sql.Row], Seq[Long]),
                                   keyOf: org.apache.spark.sql.Row => Long): Unit = {
    val (uRows, uState) = run(false)
    val (bRows, bState) = run(true)
    val nGroups = uRows.map(keyOf).size
    assert(nGroups > 8, s"$gate: fixture too small to show a plateau")
    assert(bRows === uRows.filter(r => keyOf(r) % 8 <= 5),
      s"$gate: bounded twin must emit exactly the closed windows' results")
    assert(uState.max === nGroups.toLong,
      s"$gate: Complete twin must accrete every group: $uState")
    assert(bState.max <= nGroups / 2,
      s"$gate: bounded state must plateau at the open horizon: $bState")
  }

  /** The 8-day staged arrival clock over an arbitrary key column —
    * one definition for all four serving-plateau tests (code-review
    * r13: three verbatim copies over qid/vec_id/doc_id could drift if
    * the 8-batch geometry changes).
    */
  private def servingArrival8(key: String) = expr(
    s"cast('2024-01-01 00:00:00' as timestamp) + " +
      s"make_interval(0, 0, 0, cast($key % 8 as int), 0, 0, 0)")

  test("stream_ann_topk_wm: serving state plateaus while the Complete twin accretes") {
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    val corpus = emb.select(col("vec_id").as("nn_id"), col("embedding"))
    val qemb = emb.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def run(windowed: Boolean) = {
      val ms = MemoryStream[Long]
      servingStateTrace(
        graft.queries.VectorQueries.annStreamTopk(
          ms.toDF().toDF("qid").join(qemb, "qid")
            .withColumn("arrival_ts", servingArrival8("qid")),
          corpus, windowed),
        windowed,
        b => ms.addData((0L until 40L).filter(_ % 8 == b): _*),
        s"ann_serve_$windowed")
    }
    assertServingPlateau("stream_ann_topk_wm", run, _.getLong(0))
  }

  test("stream_ann_ivf_topk_wm: serving state plateaus while the Complete twin accretes") {
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val qemb = Tables.embeddings(spark, d)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def run(windowed: Boolean) = {
      val ms = MemoryStream[Long]
      servingStateTrace(
        graft.queries.VectorQueries.annStreamIvfTopk(
          ms.toDF().toDF("qid").join(qemb, "qid")
            .withColumn("arrival_ts", servingArrival8("qid")),
          spark, d, windowed = windowed),
        windowed,
        b => ms.addData((0L until 40L).filter(_ % 8 == b): _*),
        s"ivf_serve_$windowed")
    }
    assertServingPlateau("stream_ann_ivf_topk_wm", run, _.getLong(0))
  }

  test("stream_semdedup_wm: admission state plateaus while the Complete twin accretes") {
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val qemb = Tables.embeddings(spark, d)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def run(windowed: Boolean) = {
      val ms = MemoryStream[Long]
      servingStateTrace(
        graft.queries.VectorQueries.semdedupStreamAdmit(
          ms.toDF().toDF("qid").join(qemb, "qid")
            .select(col("qid").as("vec_id"), col("qe"))
            .withColumn("arrival_ts", servingArrival8("vec_id")),
          spark, d, graft.queries.VectorQueries.Quantizer.labelMeans(spark, d),
          windowed = windowed),
        windowed,
        b => ms.addData((0L until 40L).filter(_ % 8 == b): _*),
        s"sdd_serve_$windowed")
    }
    assertServingPlateau("stream_semdedup_wm", run, _.getLong(0))
  }

  test("stream_semdedup_kmeans_wm: trained-quantizer admission state plateaus while the Complete twin accretes") {
    // The same plateau contract on the TRAINED quantizer's admission
    // gate: the Lloyd training loop and the min-L2 arriving assignment
    // change which cell a vector checks, not the state regime — the
    // bounded twin's store must still track the open horizon only.
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val qemb = Tables.embeddings(spark, d)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def run(windowed: Boolean) = {
      val ms = MemoryStream[Long]
      servingStateTrace(
        graft.queries.VectorQueries.semdedupStreamAdmit(
          ms.toDF().toDF("qid").join(qemb, "qid")
            .select(col("qid").as("vec_id"), col("qe"))
            .withColumn("arrival_ts", servingArrival8("vec_id")),
          spark, d, graft.queries.VectorQueries.Quantizer.lloyd(spark, d),
          windowed = windowed),
        windowed,
        b => ms.addData((0L until 40L).filter(_ % 8 == b): _*),
        s"sddkm_serve_$windowed")
    }
    assertServingPlateau("stream_semdedup_kmeans_wm", run, _.getLong(0))
  }

  test("stream_bpe_tokenize_wm: budget state plateaus while the Complete twin accretes") {
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val nsub = graft.queries.TextQueries.bpeSubtokenMap(spark, d).localCheckpoint()
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def run(windowed: Boolean) = {
      val ms = MemoryStream[(Long, String)]
      servingStateTrace(
        graft.queries.StreamingGateQueries.bpeServe(
          ms.toDF().toDF("doc_id", "text"), nsub, windowed,
          arrival = servingArrival8("doc_id")),
        windowed,
        b => ms.addData(docs.filter(_._1 % 8 == b).toIndexedSeq: _*),
        s"bpe_serve_$windowed")
    }
    assertServingPlateau("stream_bpe_tokenize_wm", run, _.getLong(0))
  }

  test("stream-static incremental dedup: state holds the delta's fingerprints, not the store's") {
    // stream_dedup_incremental's scale property: the historical store
    // joins as a STATIC side — planned per micro-batch, never entered
    // into the state store — so state rows track the DELTA's surviving
    // fingerprint count. A 1000-fp store against a handful of arriving
    // docs must leave a handful of state rows, not 1000.
    implicit val sql = spark.sqlContext
    val store = (0 until 1000).map(i => s"store_fp_$i").toDF("fp")
    val ms = MemoryStream[String]
    val out = ms.toDF().toDF("fp")
      .join(store, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("inc_dedup").start()
    try {
      ms.addData("a", "b", "c", "a", "store_fp_1", "store_fp_2", "d", "e", "f")
      q.processAllAvailable()
      ms.addData("a", "g", "store_fp_3") // repeats + one genuinely new
      q.processAllAvailable()
      val emitted = spark.table("inc_dedup").as[String].collect().toSet
      assert(emitted === Set("a", "b", "c", "d", "e", "f", "g"))
      val rows = q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
      assert(rows.max === 7L,
        s"state must hold only the delta's surviving fingerprints: $rows")
    } finally q.stop()
  }

  test("dedupBoundedBy on RocksDB: same plateau, provider-attributed state metrics") {
    // The wm dedup family on the backend the 100 TB story names: the
    // stream_dedup_events_wm gate now pins the RocksDB provider, and
    // this spec pins what that run's state looks like — the bounded
    // plateau holds (eviction semantics are provider-independent) and
    // the progress metrics are genuinely RocksDB's (rocksdb* custom
    // metrics present, state rows and memory accounted), so the gate's
    // provider pin is verified to actually engage the backend.
    implicit val sql = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[(String, java.sql.Timestamp)]
      val out = StreamOps.dedupBoundedBy(
        ms.toDF().toDF("k", "ts"), "ts", "30 minutes", "k")
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("wm_rocks").start()
      try {
        (0 until 5).foreach { b =>
          val t = java.sql.Timestamp.valueOf(f"2024-01-01 ${2 * b}%02d:00:00")
          ms.addData((0 until 10).map(i => (s"k${b}_$i", t)): _*)
          q.processAllAvailable()
        }
        assert(spark.table("wm_rocks").count() === 50L)
        val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
        val rows = ops.map(_.numRowsTotal)
        assert(rows.max <= 20L,
          s"bounded state must hold only the watermark horizon on RocksDB: $rows")
        assert(ops.exists(_.memoryUsedBytes > 0L),
          "state memory must be accounted")
        // the metrics are the RocksDB provider's, not the HDFS store's
        import scala.jdk.CollectionConverters._
        val custom = ops.flatMap(_.customMetrics.keySet().asScala)
        assert(custom.exists(_.startsWith("rocksdb")),
          s"expected rocksdb* custom metrics, got: ${custom.distinct}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("dedup seen-set survives restart: duplicates across incarnations stay dropped") {
    // The reference's F5 essence under failure: its processedRecordIDs
    // set is WAL-recovered so a redelivery after a crash is still
    // dropped (rainstorm/server.go:292-298 + log replay). Spark twin:
    // the dropDuplicates state store is checkpoint-recovered, so a
    // fingerprint seen before the "crash" must NOT re-emit when a new
    // incarnation drains new files containing it — and a genuinely new
    // fingerprint must. Covers the dedup gates' recovery story
    // (stream_dedup_docs/chunks/cdc/phash all ride this machinery).
    // Through the PRODUCTION parquet sink: an Append-mode memory sink
    // refuses checkpoint recovery, and the file sink is what the dedup
    // gates ship with anyway. The sink accumulates across
    // incarnations, so the recovery proof is the absence of duplicate
    // rows: a lost seen-set would emit the redelivered 'aaa' twice.
    val srcDir = tmpDir("deduprestart-src")
    val ckpt = tmpDir("deduprestart-ckpt")
    val outDir = tmpDir("deduprestart-out")
    writeLines(srcDir, "f1.txt", Seq("aaa", "bbb", "aaa"))
    def runOnce(): Unit = {
      val q = spark.readStream.text(srcDir)
        .withColumn("fp", md5(col("value").cast("binary")))
        .dropDuplicates("fp")
        .select(col("value"))
        .writeStream.outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      q.awaitTermination()
    }
    def emitted(): Map[String, Long] =
      spark.read.schema("value STRING").parquet(outDir).collect()
        .map(_.getString(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    runOnce()
    assert(emitted() === Map("aaa" -> 1L, "bbb" -> 1L)) // in-batch dup dropped
    // incarnation 2: one duplicate of a pre-crash fingerprint, one new
    writeLines(srcDir, "f2.txt", Seq("aaa", "ccc"))
    runOnce()
    assert(emitted() === Map("aaa" -> 1L, "bbb" -> 1L, "ccc" -> 1L),
      "the recovered seen-set must drop the redelivered 'aaa' exactly once")
  }

  test("RocksDB state store: state survives restart under the scale backend") {
    // The default (HDFS-backed) state store holds every key in executor
    // heap — at 100 TB of keyed state the ONLY shippable configuration
    // is the RocksDB provider (state spills to local SSD, snapshot +
    // changelog to the checkpoint). Same exactly-once contract, proven
    // here: count, "crash", append data, restart, counts resume — under
    // spark.sql.streaming.stateStore.providerClass=RocksDBStateStoreProvider.
    val srcDir = tmpDir("rocks-src")
    val ckpt = tmpDir("rocks-ckpt")
    writeLines(srcDir, "f1.txt", Seq("click u1", "view u2", "click u1"))
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runOnce(sinkName: String): Unit = {
        val counts = spark.readStream.text(srcDir)
          .filter(col("value").startsWith("click"))
          .select(substring_index(col("value"), " ", -1).as("key"))
          .groupBy("key").count()
        val q = counts.writeStream.outputMode(OutputMode.Complete())
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("memory").queryName(sinkName).start()
        q.awaitTermination()
      }
      runOnce("rocks_run1")
      assert(spark.table("rocks_run1").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap === Map("u1" -> 2L))
      writeLines(srcDir, "f2.txt", Seq("click u1", "click u3"))
      runOnce("rocks_run2")
      assert(spark.table("rocks_run2").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("u1" -> 3L, "u3" -> 1L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("tumbling window streaming equals batch aggregation") {
    val evDir = tmpDir("events-pq")
    Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(evDir)
    val batch = spark.read.parquet(evDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
      .collect().map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet

    val src = StreamOps.sourceParquet(spark, evDir,
      spark.read.parquet(evDir).schema)
    val q = src.groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
      .writeStream.outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("tumbling_stream").start()
    q.awaitTermination()
    val streamed = spark.table("tumbling_stream").collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }
}
