package graft

/** Scaling-curve harness: time a representative operator slice at TWO
  * scale factors in ONE JVM and report the wall-clock growth ratio per
  * query against the 10× data growth — the measured backing for each
  * plan's "linear / bounded at 100 TB" claim (a ratio well above the
  * data growth is a super-linear plan; near or below it, the operator
  * is data-linear with fixed overhead still amortizing). Medians of 3
  * cache-cleared reps, each written to a noop sink (Bench's rep
  * contract).
  * {{{ runMain graft.ScalingCheck [sfSmall] [sfLarge] }}}
  * Prints ONE JSON line {"scaling_check": ...}.
  */
object ScalingCheck {

  /** One per cost regime: the linear-scan families (tokenize, curate),
    * the no-pair-join dedup (ExactSubstr), the pair-density dedups
    * (direct + banded + the mega-bucket-capped twin — the r12 guard,
    * in the slice so its sub-quadratic growth is measured next to the
    * uncapped shape it bounds), ANN (brute N·Q and the IVFADC pruned
    * shape), user-keyed windows (sessionize), the composite, and the
    * scan+agg relational baseline.
    */
  private val Queries = Seq(
    "q1_agg", "text_bpe_count", "docs_curation", "events_sessionize",
    "dedup_substring_spans", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "ann_brute_topk", "ann_ivfpq_topk", "dedup_e2e_pipeline",
    "dedup_e2e_pipeline_capped",
    // iterative-training regime: KmRounds full corpus scans (Lloyd)
    // ahead of the probed IVF lookup — growth should track the scans'
    // linear term, not the per-cell quadratic
    "ann_ivf_kmeans_topk",
    // sample-trained regime: the Lloyd rounds scan only the
    // SIZE-TARGETED subsample (~KmTrainPerCell*k points whatever the
    // corpus), so training cost is O(1) in corpus size and growth
    // should be dominated by the one full-corpus assignment pass —
    // the production trainer's scaling measured next to the loop it
    // replaces
    "ann_ivf_kmeans_sampled_topk",
    // bounded-serving regime (r14 verdict Next #3): the Append-mode
    // windowed TopK-heap eviction path through the production parquet
    // sink — per-(arrival window, qid) state is a <= k-row heap and
    // queries are a fixed set, so growth should track the stream's
    // scan of the corpus side, never the window count
    "stream_ann_topk_wm",
    // the full-stack curation composite (r14 verdict Next #6): gate →
    // exact dedup → k-means SemDeDup → ExactSubstr cutting → decon →
    // pack in ONE plan — growth should track its linear-scan and
    // span-inventory stages (each independently in this slice), with
    // the stage-joining shuffles carrying (doc_id, counts) only
    "docs_curation_e2e_kmeans",
    // online train+serve regime (the r15 composition): per-step state
    // is three <= KmCells-row tables whatever the corpus and the
    // per-batch scan is one nearest-cell pass, so growth should track
    // the stream's data-linear assignment term — the feedback loop's
    // driver round-trips are O(batches * KmCells), constant in corpus
    "stream_kmeans_online_serve",
    // online IVF serving (the epoch-rebuild contract): each batch
    // re-assigns the corpus under its generation — 4 extra data-linear
    // scans — while probes and the re-rank tail stay query-bounded,
    // so growth should track those scans, never a pair term
    "stream_ann_ivf_online_topk",
    // drift-gated epoch rebuild (r16): the same gate with rebuilds
    // gated on quantizer movement — 3 rebuilds of 4 batches at the
    // small SF but only the initial build at the large one (per-batch
    // centroid movement shrinks with cumulative mass), so the gate's
    // dominant data-linear term largely VANISHES at scale and this
    // entry should grow measurably slower than the always-rebuild
    // twin above it (measured r16: 0.94x vs 1.22x under 10x data)
    "stream_ann_ivf_online_topk_drift",
    // per-cell incremental reindexing (r16 post-close): re-assignment
    // work per batch is the MOVED cells' member count only (7/0/1 of
    // 10 cells after the initial build at sf0.01; 0/0/0 at sf0.1), so
    // growth should track the initial build's one data-linear pass
    // plus the query-bounded serving, like the drift twin
    "stream_ann_ivf_online_topk_incr",
    // the COMPOSED persisted-refresh gate (r17): the drift protocol
    // with parquet generation directories as the index — growth adds
    // the store's write/read IO to the drift twin's profile, and the
    // rebuild cadence DROPS with scale (every rebuild but the initial
    // build skipped at sf0.1), so appends dominate at the larger SF
    "stream_ann_ivf_persisted_refresh",
    // the persisted PQ CODE store, batch and streaming faces (r17
    // verdict Next #4 — the #4 most expensive bench query was in
    // neither scale harness while its raw-vector twins were): train +
    // pack + write are data-linear, the serve scan is pruned to
    // NProbe cells' files, so growth should track the linear
    // encode/pack term
    "ann_ivfpq_persisted_topk", "stream_ann_ivfpq_persisted_topk",
    // the composed CODE-store refresh gate (r18): the drift recurrence
    // over the packed artifact — rebuilds re-bucket 32x-smaller rows
    // than the raw refresh twin and their cadence drops with scale,
    // so growth should sit at or below the raw twin's
    "stream_ann_ivfpq_persisted_refresh")

  /** The data-growth factor between two sf dirs, derived from the dir
    * names' scale factors (sfA/sfB) rather than hardcoded — a run
    * against non-10× directories must report ITS growth, not 10.0
    * (ADVICE r10). Falls back to a row-count ratio over the documents
    * table when a dir name doesn't parse (custom fixture paths).
    */
  private def dataGrowth(small: String, large: String,
                         spark: org.apache.spark.sql.SparkSession): (Double, String) = {
    def sf(dir: String): Option[Double] =
      "sf([0-9.]+)/*$".r.findFirstMatchIn(dir)
        .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
    (sf(small), sf(large)) match {
      case (Some(a), Some(b)) if a > 0 => (b / a, "sf_dir_names")
      case _ =>
        // documents-row proxy: can misstate the factor if a custom
        // fixture scales tables non-uniformly — the emitted JSON names
        // the source so a reader knows which it got (ADVICE r11)
        val na = spark.read.parquet(s"$small/documents.parquet").count()
        val nb = spark.read.parquet(s"$large/documents.parquet").count()
        (if (na > 0) nb.toDouble / na else -1.0, "documents_rows")
    }
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val large = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    require(Queries.forall(SparkEntry.queries.contains),
      "stale scaling slice: " +
        Queries.filterNot(SparkEntry.queries.contains).mkString(", "))
    val spark = GraftSession.local("graft-scaling-check")
    // same rep contract as Bench via BenchSupport; a failing query
    // records -1 at that scale (and ratio -1) instead of aborting the
    // whole run with no JSON line
    def timeAt(sfDir: String, name: String): Double = {
      // untimed warm rep first (the Bench r12 device): growth ratios
      // must compare steady states, not compilation transients
      BenchSupport.timeRep(spark, sfDir, name)
      val good = (1 to 3).map(_ => BenchSupport.timeRep(spark, sfDir, name))
        .filter(_ >= 0)
      if (good.nonEmpty) BenchSupport.median(good) else -1.0
    }
    Seq(small, large).foreach(d => BenchSupport.warmTables(spark, d))
    val rows = Queries.map { q =>
      val a = timeAt(small, q)
      val b = timeAt(large, q)
      (q, a, b, if (a > 0 && b >= 0) b / a else -1.0)
    }
    // raw Double.toString like Bench — the f-interpolator is
    // locale-dependent ("0,514" under a comma-decimal locale would
    // break the JSON)
    val qJson = rows.map { case (q, a, b, r) =>
      s""""$q":{"small_s":$a,"large_s":$b,"ratio":$r}"""
    }.mkString(",")
    val failed = rows.collect { case (q, a, b, _) if a < 0 || b < 0 => s""""$q"""" }
      .mkString("[", ",", "]")
    val (growth, growthSource) = dataGrowth(small, large, spark)
    println(s"""{"scaling_check":"done","small":"$small","large":"$large","data_growth":$growth,"data_growth_source":"$growthSource","queries":{$qJson},"failed":$failed}""")
    spark.stop()
  }
}
