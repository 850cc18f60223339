package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.queries.MultimodalQueries

/** MULTI-JVM execution proof: runs a representative slice of the
  * registry under `local-cluster[2,2,3072]` — two REAL worker processes
  * with separate executor JVMs, real closure/task serialization, real
  * cross-process shuffle — the one execution shape `local[*]` (one
  * shared JVM) structurally cannot exercise. Everything here would
  * silently pass on local[*] even if it depended on driver-JVM statics;
  * under local-cluster such a dependency breaks, which is the point.
  *
  * The slice covers the risk classes a single-JVM harness hides:
  *  - native Catalyst expressions evaluated in executor JVMs
  *    (`mm_dedup_phash` → PpmPhashBands, registered driver-side,
  *    EXECUTED executor-side);
  *  - the ImageIO codec path per executor JVM (PNG encode/decode in
  *    `transcodeImages`; the per-JVM `setUseCache(false)` lazy init
  *    must fire in EACH executor, not just the driver);
  *  - the pure-array CDC chunker's HOF pipeline (`dedup_cdc_chunks`);
  *  - streaming state stores on executors (`stream_count_by_key`), and
  *    the RocksDB provider's JNI backend in executor JVMs with the
  *    staged-batch eviction replay (`stream_dedup_events_wm`);
  *  - the chaos closure transport for real: under a cluster master
  *    `Chaos.plan` selects `PartitionKills` (RainStorm.scala:99-113),
  *    the armed count ships inside the task closure, executor-side
  *    task attempts die, and the scheduler's retry (maxFailures=4,
  *    honored on a cluster) reproduces the exact no-chaos output —
  *    the reference's RainStormWithFail demo on multi-JVM execution.
  *
  * Oracle-checked queries are dumped exactly like Verify (same parquet
  * + oracle_sql.json contract), so `tools/check_oracle.py <outDir>
  * <sfDir>` applies the driver's own correctness standard to the
  * multi-JVM run. In-main checks (codec equality, chaos equivalence)
  * use count-based comparisons only — nothing collects.
  *
  * Run (the executor launcher resolves Spark jars via SPARK_HOME and
  * needs SPARK_SCALA_VERSION — without it it probes for dev build
  * directories and dies with "Cannot find any build directories"):
  * {{{
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 sbt -batch \
  *     "runMain graft.ClusterCheck /root/testdata/sf0.01 /tmp/cluster_check"
  *   python3 tools/check_oracle.py /tmp/cluster_check /root/testdata/sf0.01
  * }}}
  * Prints one JSON line `{"cluster_check": "...", ...}`; exit 0 iff
  * every in-main check passed (the oracle compare runs separately).
  */
object ClusterCheck {

  /** The oracle-gated slice (one per risk class above;
    * stream_dedup_chunks_wm_evict additionally proves the staged
    * arrival clock and cross-batch watermark EVICTION replay hold
    * when the state store lives in executor JVMs;
    * stream_dedup_incremental adds the stream-STATIC join — the static
    * side is planned per micro-batch, so under a cluster master its
    * scan + the anti-join run in executor JVMs every batch;
    * vec_knn_pagerank adds driver-controlled ITERATION over a
    * checkpointed edge list — the edges localCheckpoint ONCE before
    * the loop and every round re-reads those blocks, which live on
    * executor block managers under a cluster master, so each round's
    * block re-read crosses JVM boundaries;
    * ann_pq_adc_topk adds the shared-subtree shape: two chained
    * localCheckpoints (subvectors, trained codebook) each read by
    * multiple downstream joins plus a broadcast LUT built FROM a
    * checkpointed frame — block re-reads and broadcast construction
    * both cross JVM boundaries;
    * stream_ann_topk adds the typed-Aggregator risk class — the
    * TopKAggregator's ExpressionEncoder-encoded Seq buffers serialize
    * between partial and merge phases ACROSS executor JVMs (every
    * other Aggregator use in the suite runs single-JVM), under a
    * streaming stream-static join;
    * stream_semdedup adds the serving composition: the one-row
    * broadcast centroid array built FROM a checkpointed aggregate, the
    * pure-expression cell assignment (Quantizer.ranked under
    * crossJoin(broadcast(...))) evaluated in
    * executor JVMs per micro-batch, and the stream-static LEFT join
    * against the checkpointed admission index;
    * ann_ivfpq_refine adds the full three-stage IVFADC+R chain under
    * multi-JVM execution — the ADC shortlist (itself a broadcast-fed
    * windowed plan) re-broadcast against the raw-vector table for the
    * exact re-rank;
    * ann_ivf_kmeans_topk adds the ITERATIVE Lloyd training loop —
    * each round's 10-row centroid localCheckpoint lives as executor
    * blocks, and the next round's assignment broadcast is built FROM
    * those blocks, a block-manager round-trip per round that local[32]
    * never exercises across JVM boundaries;
    * stream_kmeans_update adds streaming TRAINING state — the
    * per-cell (count, Σ fixed-point) integer sums merge across
    * micro-batches in EXECUTOR state stores (partial merges cross JVM
    * boundaries), under a broadcast assignment expression built from
    * the Lloyd loop's checkpointed blocks, with the batch finish
    * joining the drained sink table back against those blocks;
    * stream_kmeans_minibatch adds the foreachBatch FEEDBACK loop —
    * each MacQueen step's assignment broadcast is built from the
    * PREVIOUS step's driver-updated, executor-block-checkpointed
    * centroid table, so every step round-trips the block managers
    * across JVM boundaries and the per-batch-id idempotence guard
    * runs against real micro-batch redelivery machinery;
    * stream_ann_topk_wm adds the BOUNDED SERVING regime (r14 verdict
    * Next #2 — previously only dedup-family `_wm` gates had crossed
    * executor JVMs): the Append-mode windowed TopK-heap path — the
    * typed Aggregator's per-(arrival window, qid) heap buffers
    * serialize between partial and merge phases across executor
    * JVMs, watermark-closed windows EVICT from executor state
    * stores, and eviction-gated emission flows through the
    * production parquet sink;
    * stream_kmeans_online_serve adds the GENERATION-EXACT serving
    * face of that feedback loop (the r15 train+serve composition):
    * the OUTPUT is every batch's served (vec_id, kcell) rows, each
    * assigned under a broadcast built from the PREVIOUS step's
    * executor-block-checkpointed centroids — minibatch proves the
    * final centroids survive the JVM round-trips, this proves the
    * per-batch served assignments do (one stale-generation broadcast
    * anywhere in the chain hash-mismatches the union);
    * stream_ann_ivf_online_topk carries that generation-exactness
    * into ANSWER space: each batch's IVF top-3 joins the
    * generation-r corpus index (a full re-assignment whose shuffles
    * cross executor JVMs every batch) against broadcast probe lists
    * and query rows built in the same generation — a stale broadcast
    * OR a stale index block on either side flips ranked answers;
    * docs_curation_e2e_kmeans adds the full-stack curation COMPOSITE
    * (r14 verdict Next #6) — six stage families (gate window, exact-dup
    * canonicalization, trained-quantizer SemDeDup, ExactSubstr span
    * windows, decontamination broadcast anti-join, pack windows) whose
    * stage-joining shuffles and the Lloyd loop's checkpointed blocks
    * all cross executor JVM boundaries in ONE plan;
    * the r16 additions: stream_ann_ivf_online_topk_drift proves the
    * DRIFT-GATED epoch protocol under real executor JVMs — the stale
    * inverted lists are executor-block checkpoints REUSED across
    * micro-batches (a lost/stale block on a skip batch flips ranked
    * answers; the drift scalar itself round-trips the block managers);
    * ann_ivf_persisted_topk writes the cell-partitioned index from
    * executor JVMs and serves from the re-read artifact (the DPP probe
    * join against real remote file scans); stream_docs_curation_e2e_
    * kmeans runs the stateless admission composite — five stream-static
    * joins against checkpointed artifacts — through the parquet sink
    * with executor-side writers; stream_bpe_train_online's cumulative
    * (word, cnt, seq) dictionary and admitted-set broadcasts cross
    * JVMs every round, with the catch-up replaying checkpointed
    * admission blocks from earlier generations.
    */
  private val Slice = Seq(
    "mm_dedup_phash", "dedup_cdc_chunks", "app1_pipeline",
    "stream_count_by_key", "stream_dedup_events_wm",
    "stream_dedup_chunks_wm_evict", "stream_dedup_incremental",
    "vec_knn_pagerank", "ann_pq_adc_topk", "stream_ann_topk",
    "stream_semdedup", "ann_ivfpq_refine", "ann_ivf_kmeans_topk",
    "stream_kmeans_update", "stream_kmeans_minibatch",
    "stream_ann_topk_wm", "docs_curation_e2e_kmeans",
    "stream_kmeans_online_serve", "stream_ann_ivf_online_topk",
    "stream_ann_ivf_online_topk_drift", "ann_ivf_persisted_topk",
    "stream_docs_curation_e2e_kmeans", "stream_bpe_train_online",
    // post-close r16: streaming ingest into the persisted store — the
    // parquet sink's partitioned writers run IN executor JVMs and the
    // serving scan reads their committed files back across processes —
    // and per-cell incremental reindexing, whose patchwork lists are
    // executor-block checkpoints PATCHED across micro-batches (a
    // migration losing a member's block between JVMs flips answers)
    "stream_ann_ivf_persisted_topk", "stream_ann_ivf_online_topk_incr",
    // r17: the COMPOSED gate — drift-triggered generation rebuilds
    // writing cell-partitioned parquet from executor JVMs, appends as
    // dynamic-overwrite ingest partitions, and every batch's serving
    // a pruned read of the committed artifact across processes (a
    // torn generation or a mis-committed append flips ranked answers)
    // — and the streaming CODE-store ingest (arrival-side PQ
    // quantization + packing in executor JVMs, ADC served from the
    // re-read packed artifact)
    "stream_ann_ivf_persisted_refresh", "stream_ann_ivfpq_persisted_topk",
    // r18: the composed CODE-store refresh gate — generation rebuilds
    // re-bucketing the packed code table across executor JVMs, ADC
    // serving a pruned read of the committed code artifact, and the
    // gate-driven finalize compacting/pruning the run at drain
    "stream_ann_ivfpq_persisted_refresh")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/cluster_check"
    // A renamed registry entry must fail loudly, not silently shrink
    // the slice's oracle coverage (check_oracle only iterates what the
    // dump contains — it would happily report 4/4 OK).
    require(Slice.forall(SparkEntry.oracleSql.contains),
      s"slice names missing from oracleSql: " +
        Slice.filterNot(SparkEntry.oracleSql.contains).mkString(", "))
    val spark = GraftSession.localCluster("graft-cluster-check")
    new java.io.File(outDir).mkdirs()

    // Chaos kills fire in EXECUTOR JVMs — the driver-side firedCount
    // cannot see them (documented in Chaos.firedCount). The scheduler's
    // task-end events are the cross-JVM evidence channel. Streaming
    // (epoch-transport) kills are counted separately: their message
    // carries the armed micro-batch id.
    val chaosKills = new java.util.concurrent.atomic.AtomicInteger(0)
    val streamingChaosKills = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case ef: org.apache.spark.ExceptionFailure
            if ef.toErrorString.contains("chaos: injected") =>
          chaosKills.incrementAndGet()
          if (ef.toErrorString.contains("micro-batch"))
            streamingChaosKills.incrementAndGet()
        case _ => ()
      }
    })

    var failures = List.empty[String]
    def check(name: String)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable =>
          failures ::= s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[cluster-check] $name FAILED: $e")
      }

    // 1) Oracle-gated slice, dumped in the Verify contract.
    Slice.foreach { name =>
      check(name) {
        SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      spark.catalog.clearCache()
    }
    Verify.dumpOracleSql(
      SparkEntry.oracleSql.view.filterKeys(Slice.contains).toMap,
      s"$outDir/oracle_sql.json")

    // 2) PNG codec per executor JVM: the viaPng synthesis (PNG-encode →
    // ImageIO-decode in transcodeImages, running in executor tasks)
    // must be phash-identical to the direct path — losslessness,
    // proven across JVM boundaries with a join, not a collect.
    check("png_codec_multi_jvm") {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      def bands(viaPng: Boolean) =
        MultimodalQueries.imageMediaRows(docs, viaPng = viaPng).toDF()
          .select(col("media_id"),
            graft.functions.BinaryFunctions.ppmPhashBands(col("payload")).as("b"))
      // ONE action: a full-outer join catches rows missing from either
      // side (they surface as unmatched nulls), and the single
      // aggregate means each synthesis/transcode pipeline runs exactly
      // once — three separate counts would re-run the ImageIO
      // round-trip per action.
      val row = bands(viaPng = false).withColumnRenamed("b", "bd")
        .join(bands(viaPng = true).withColumnRenamed("b", "bp"),
          Seq("media_id"), "full_outer")
        .agg(count(lit(1)).as("n"),
          count(when(col("bd") === col("bp"), 1)).as("matched"))
        .head()
      val (n, matched) = (row.getLong(0), row.getLong(1))
      require(n > 0, "no synthesized images")
      require(matched == n,
        s"phash mismatch across the codec round-trip: $matched of $n")
    }

    // 3) RainStormWithFail on multi-JVM execution: armed kills ride the
    // task closure (PartitionKills — the master is not local[*]), two
    // executor-side attempts die on their first delivery, the
    // scheduler retries, and the output equals the unchaosed run's.
    check("rainstorm_with_fail_cluster") {
      val src = Files.createTempDirectory("cluster-rs-src")
      (0 until 3).foreach { f =>
        val lines = (0 until 2000).map { j =>
          val i = f * 2000 + j
          s"$i,${if (i % 3 == 0) "keepR" else "drop"},k${i % 50},v$i"
        }
        Files.write(src.resolve(s"part$f.csv"),
          String.join("\n", lines: _*).getBytes("UTF-8"))
      }
      val plainDir = Files.createTempDirectory("cluster-rs-plain").toString
      val chaosDir = Files.createTempDirectory("cluster-rs-chaos").toString
      RainStorm.run(spark, src.toString, RainStorm.Ops.app1op1,
        RainStorm.Ops.csvProject(2, 3), Some(plainDir), numTasks = 4, pattern = "R")
      // PartitionKills is AT-MOST-n: a partition that receives no
      // deliveries fires nothing. Pre-assert the partitions we arm are
      // non-empty, so a kill count of 0 below can only mean a transport
      // failure — not key skew or a data-shape change.
      val armable = RainStorm.op1ArmedPartitionsNonEmpty(spark, src.toString,
        numTasks = 4, n = 2)
      require(armable == 2,
        s"op1-stage partitions 0..1 must be non-empty before arming " +
          s"(PartitionKills is at-most-n): only $armable of 2 are")
      RainStorm.Chaos.arm(2)
      RainStorm.run(spark, src.toString, RainStorm.Ops.app1op1,
        RainStorm.Ops.csvProject(2, 3), Some(chaosDir), numTasks = 4, pattern = "R")
      def counted(dir: String) =
        spark.read.schema("key STRING, value STRING").csv(dir)
          .groupBy("key", "value").count()
      val diff = counted(plainDir).alias("p")
        .join(counted(chaosDir).alias("c"), Seq("key", "value"), "full_outer")
        .filter(col("p.count").isNull || col("c.count").isNull ||
          col("p.count") =!= col("c.count"))
        .count()
      require(diff == 0, s"chaos run diverged from plain run: $diff keys differ")
      // listener events are posted asynchronously; give the bus a beat
      val deadline = System.nanoTime() + 10e9.toLong
      while (chaosKills.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(100)
      require(chaosKills.get() >= 1,
        "no executor task attempt died — the closure transport never fired " +
          "(partitions 0..1 were pre-checked non-empty above, so this is a " +
          "transport failure, not the at-most-n caveat)")
    }

    // 4) Streaming × cluster chaos — the quadrant that degraded to
    // NoKills through round 9: runStreaming under a cluster master now
    // takes the EPOCH-AWARE closure transport (EpochPartitionKills,
    // armed against micro-batch 0), so executor-side STREAMING task
    // attempts die, the scheduler retries them within the same
    // micro-batch, and the drained output must equal the unchaosed
    // run's — the reference's kill-two-workers equivalence on the
    // streaming path, across real JVM boundaries.
    check("rainstorm_streaming_chaos_cluster") {
      val src = Files.createTempDirectory("cluster-rss-src")
      (0 until 3).foreach { f =>
        val lines = (0 until 2000).map { j =>
          val i = f * 2000 + j
          s"$i,${if (i % 3 == 0) "keepR" else "drop"},k${i % 50},v$i"
        }
        Files.write(src.resolve(s"part$f.csv"),
          String.join("\n", lines: _*).getBytes("UTF-8"))
      }
      // Same at-most-n pre-assertion as the batch gate, against the
      // STREAMING op1 partitioning: file-scan splits, no key exchange
      // (the batch gate's op1 partitions by key hash).
      val armable = RainStorm.streamingArmedPartitionsNonEmpty(
        spark, src.toString, n = 2)
      require(armable == 2,
        s"streaming op1-stage partitions 0..1 must be non-empty before " +
          s"arming (EpochPartitionKills is at-most-n): only $armable of 2 are")
      def drain(name: String, arm: Int): org.apache.spark.sql.DataFrame = {
        if (arm > 0) RainStorm.Chaos.arm(arm)
        val q = RainStorm.runStreaming(spark, src.toString,
          RainStorm.Ops.app1op1, RainStorm.Ops.csvProject(2, 3),
          queryName = name,
          checkpoint = Files.createTempDirectory(s"cluster-rss-ckpt-$name").toString,
          numTasks = 4, pattern = "R")
        q.awaitTermination()
        spark.table(name)
      }
      val plain = drain("rss_plain", 0)
      val beforeStreamKills = streamingChaosKills.get()
      val chaos = drain("rss_chaos", 2)
      def counted(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("key", "value").count()
      val diff = counted(plain).alias("p")
        .join(counted(chaos).alias("c"), Seq("key", "value"), "full_outer")
        .filter(col("p.count").isNull || col("c.count").isNull ||
          col("p.count") =!= col("c.count"))
        .count()
      require(diff == 0,
        s"streaming chaos run diverged from plain run: $diff keys differ")
      val deadline = System.nanoTime() + 10e9.toLong
      while (streamingChaosKills.get() < beforeStreamKills + 1 &&
             System.nanoTime() < deadline)
        Thread.sleep(100)
      require(streamingChaosKills.get() >= beforeStreamKills + 1,
        "no executor streaming task attempt died — the epoch transport " +
          "never fired (partitions 0..1 pre-checked non-empty above)")
    }

    val execs = spark.sparkContext.getExecutorMemoryStatus.size
    val json = s"""{"cluster_check": ${if (failures.isEmpty) "\"PASS\"" else "\"FAIL\""}, """ +
      s""""master": "local-cluster[2,2,3072]", "block_managers": $execs, """ +
      s""""chaos_kills_observed": ${chaosKills.get()}, """ +
      s""""streaming_chaos_kills_observed": ${streamingChaosKills.get()}, """ +
      s""""oracle_slice": [${Slice.map("\"" + _ + "\"").mkString(", ")}], """ +
      s""""failures": [${failures.reverse.map(Verify.jsonQuote).mkString(", ")}]}"""
    println(json)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
