package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StructField, StructType}

import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search + vector analytics over `embeddings`
  * (vec_id BIGINT, embedding FLOAT[64] unit-norm, label INT).
  *
  * Cross-engine float determinism: every dot product is an explicit
  * 64-term left-associated sum with each element cast to double before
  * multiplying — Spark's native loop expression and DuckDB's
  * left-associative `+` then perform bit-identical IEEE arithmetic, so
  * scores (and therefore top-k ranking and signature bits) agree
  * exactly. Hyperplane weights are compile-time Scala integer constants
  * embedded as literals in BOTH the Spark plan and the oracle SQL — no
  * cross-engine RNG or hash dependency.
  *
  * LSH design (64-bit random-hyperplane signature, 4 bands × 16 bits):
  *
  *  - 16-bit bands give 65 536 buckets per band, so a random pair
  *    collides on a band with p = 2⁻¹⁶ — candidate volume stays
  *    ~n²/65 536 per band for random data and concentrates sharply on
  *    genuinely-near pairs (p_match = (1-θ/π)¹⁶ per band). The previous
  *    4-bit bands had 16 buckets — quadratic candidate growth.
  *  - Query-side MULTI-PROBE (hamming radius 2 over a band, 137 probe
  *    values) buys recall back without touching the corpus side: probes
  *    explode the tiny query set, never the corpus, then equi-join — the
  *    standard asymmetric multi-probe trade (Lv et al., VLDB'07).
  *  - Corpus-vs-corpus dedup uses exact band equality (probing both
  *    sides would square the blow-up) — one self-join of the LSH table
  *    on (band, value).
  *
  * Threshold note: the synthetic corpus has NO planted near-duplicates
  * (max pairwise cosine ≈ 0.46 at sf0.01) — the dedup threshold 0.3 is
  * set below that so the gate exercises the full candidate+verify path
  * with non-empty output; a production corpus would run 0.8-0.9.
  */
object VectorQueries {

  private val Dim = 64
  private val Planes = 64            // signature bits
  private val BandBits = 16          // bits per band
  private val Bands = Planes / BandBits
  private val ProbeRadius = 2        // query-side multi-probe hamming radius
  private val DedupCos = 0.3         // see threshold note above
  // Batch of query vectors for the ANN queries. 100 is the measured
  // sweet spot at bench scale: enough scored-pair volume that LSH's
  // fewer-scored-pairs advantage offsets its extra stages (probe
  // broadcast, candidate distinct) — larger batches only grow the LSH
  // probe table while brute's 64-dim dots stay compute-trivial. The
  // structural LSH win comes from CORPUS growth (candidates stay
  // ~bounded per query while brute scans everything) — that's the
  // asymptotic story the sublinearity spec pins.
  private[graft] val NQueries = 100
  /** IVF cells probed per query (of the 10 cells) — the SERVING-TIME
    * recall knob of the whole IVF family (ann_ivf_topk, ann_ivfpq_topk
    * via ivfTopk's `nprobe` param, stream_ann_ivf_topk via
    * annStreamIvfTopk's, the probe-list table via ivfProbedCells'):
    * recall rises with probed fraction at proportional scan cost, no
    * retraining, no re-storage — the r11 grid at k = 128 measured
    * recall@3 vs brute 0.207 (np=3) → 0.233 (np=4) → 0.270 (np=5)
    * (full grid in the IvfPqK doc; the np=5 > np=3 direction is
    * VectorSpec-pinned). The registered gates pin 3 — the same
    * O(N·NProbe/NCells) pruning fraction every scale claim is stated
    * against.
    */
  private[graft] val NProbe = 3
  private val KnnK = 5               // neighbors kept per node in the kNN graph
  private val PrIters = 3            // fixed PageRank iterations (unrolled in the oracle)
  private val PqM = 8                // PQ subspaces (Dim/PqM dims each)
  private val PqK = 16               // PQ codewords per subspace
  private val PqSub = Dim / PqM      // dims per subspace
  /** Lloyd training rounds for the PQ codebook — the training knob
    * (constructor default here, mirrored into the oracle by
    * `pqCtesSql(rounds)`, so both engines always train identically).
    * Measured on the sf0.01 corpus (recorded round 10): total assigned
    * distortion falls monotonically with rounds (59.2M seed → 47.8M →
    * 45.7M → 44.7M; non-increase spec-pinned), but ADC recall@3 vs the
    * exact quantized-L2 ranking does NOT improve past one round
    * (rounds 0..3 → 0.107, 0.130, 0.113, 0.113): with PqK=16
    * codewords over 8-dim subspaces the family is recall-bound by
    * CODEBOOK SIZE, not by training convergence — extra rounds move
    * centroids toward cluster means without changing which coarse
    * cells confusable neighbors land in. So 1 round stays the
    * default; the knob exists for larger-codebook configs (real
    * systems train PqK=256 to convergence offline) and for the
    * monotonicity spec to exercise. The codebook-size half of the
    * claim is MEASURED too (pqSeedCodebook's `k` knob): k=64 lifts
    * ADC recall@3 vs brute from 0.157 to 0.220 at sf0.01, direction
    * spec-pinned in VectorSpec.
    */
  private[graft] val PqRounds = 1
  /** IVFADC's REGISTERED codebook size — k = 128, selected from the
    * r11 recall-surface measurement (sf0.01, recall@3 vs brute, raw /
    * residual encoding):
    * {{{
    *   k=64  np=3 0.187/0.180   np=4 0.190/0.180   np=5 0.203/0.210
    *   k=128 np=3 0.207/0.180   np=4 0.233/0.200   np=5 0.270/0.220
    * }}}
    * The family is recall-bound by codebook size (the Lloyd-rounds
    * measurement), and k = 128 at the unchanged NProbe = 3 pruning
    * fraction clears the 0.2 floor (0.207, VectorSpec-pinned) without
    * weakening the O(N·NProbe/NCells) scan story. Residual encoding
    * (ivfpqResidualTopk) measured at-or-below raw at every grid point
    * except k=64/np=5 — see its doc for why this corpus can't pay the
    * residual cost — so the registered default stays by_residual=false
    * WITH the measurement to show for it. vec_pq_codes /
    * ann_pq_adc_topk keep PqK = 16 (the code-table compression story:
    * 4-bit codes). The oracle CTE chain is generated from this same
    * constant.
    */
  private[graft] val IvfPqK = 128
  /** IVFADC+R shortlist size — how many ADC-ranked candidates per query
    * the exact re-rank stage (ann_ivfpq_refine / ivfpqRefineTopk)
    * touches. The refine cost is R exact distances per query — R·100
    * rows total here, R point-lookups per query at any corpus size —
    * so R is a pure recall knob with corpus-independent cost.
    * REGISTERED R = 20, selected from the JOINT (np, R) grid
    * (sf0.01, recall@3 vs brute at k = 128, each point the
    * registered ivfpqRefineTopk at (np, R), each np's ceiling the
    * exact IVF ranking over the same probed cells — the two knobs
    * interact: refine can never resurrect a neighbor whose cell np
    * did not probe, so each np row saturates toward its
    * exact-within-probed-cells ceiling):
    * {{{
    *   np=3  adc 0.207  R=10 0.353  R=20 0.453  R=40 0.493  ceiling 0.533
    *   np=4  adc 0.233  R=10 0.437  R=20 0.547  R=40 0.623  ceiling 0.677
    *   np=5  adc 0.270  R=10 0.480  R=20 0.603  R=40 0.723  ceiling 0.793
    * }}}
    * The choice repeats the IvfPqK precedent — keep the family's
    * pinned NProbe = 3 pruning fraction (np is the CORPUS-proportional
    * axis: scan cost O(N·np/NCells)) and buy recall on the
    * corpus-independent axis instead: R=20 sits at the knee of the
    * np=3 row (+0.100 recall over R=10 for 10 more point lookups;
    * R=40 adds only +0.040 more against the 0.533 ceiling —
    * saturation). A deployment that needs recall past the np=3
    * ceiling moves BOTH knobs along the measured grid (np=5/R=40 →
    * 0.723 at 5/3× scan cost). Recall is PROVABLY monotone in R — a
    * candidate displacing a brute-top-3 member from the re-ranked
    * top-3 has higher exact cosine, so it is itself a brute-top-3
    * member — direction + monotonicity + the registered point's floor
    * pinned in VectorSpec.
    */
  private[graft] val RefineR = 20

  /** The retention face's deterministic expired cohort: store rows
    * with vec_id ≡ RetainDrop (mod RetainMod) age out — one fifth of
    * the corpus, touching every cell (so the rewrite path, not just
    * the hard-link path, is exercised end-to-end under the hash gate).
    */
  private[graft] val RetainMod = 5
  private[graft] val RetainDrop = 3
  // Fixed-point scale for exact cross-engine centroid sums: each float
  // component is quantized to floor(v * 2^24 + 0.5) as a 64-bit integer
  // (the same round-half-up device as vec_quantize). Integer addition is
  // associative, so a plain sum() is order-independent AND
  // partial-aggregating — per-group state is ONE long, never a buffer
  // proportional to group size. Unit-norm components are in [-1, 1], so
  // |q| <= 2^24 and a BIGINT sum overflows only past 2^39 rows per
  // (label) group (~5.5e11 vectors) — far beyond 100 TB of 64-dim
  // float32 embeddings (~4e11 vectors TOTAL, spread over 10 labels).
  private val CentScale = 1L << 24

  /** Integer hyperplane weights in [-1000, 1000], LCG-derived at compile
    * time (deterministic, engine-independent).
    */
  private val W: Array[Array[Int]] = Array.tabulate(Planes, Dim) { (j, i) =>
    (Portable.lcg(j.toLong * Dim + i + 1) % 2001).toInt - 1000
  }

  /** Random-projection target dimensionality. */
  private val NProj = 8

  /** ±1 projection sign for (proj j, dim i): bit 16 of the LCG mix of
    * the flat index — NOT the low bit, whose parity alternates under an
    * odd-multiplier LCG. The same formula is inlined in the oracle SQL,
    * so both engines derive identical sign matrices.
    */
  private def rpSign(j: Int, i: Int): Int = {
    val h = Portable.lcg(j.toLong * Dim + i + 1)
    if ((h / 65536L) % 2L == 0L) 1 else -1
  }

  /** All 16-bit XOR masks with popcount ≤ ProbeRadius (137 for r=2). */
  private val probeMasks: Seq[Int] =
    (0 until (1 << BandBits)).filter(m => Integer.bitCount(m) <= ProbeRadius)

  // ---- Spark-side expressions (native, codegen'd loops) -----------

  private def dot(x: Column, y: Column): Column = VectorFunctions.dotF(x, y)

  /** ANN serving on the streaming face — shared by stream_ann_topk
    * (one definition, zero drift with its oracle = ann_brute_topk's
    * SQL): exact cosine top-3 of each arriving query vector against
    * the static corpus, with the ranking done by the BOUNDED-HEAP
    * TopKAggregator instead of a window (windows are illegal over a
    * streaming frame; the aggregator shuffles ≤ k rows per
    * (partition, query) and its (score desc, id asc) order is exactly
    * ann_brute_topk's tie-break, so the ranked output is identical).
    * `qs` must carry (qid, qe), `corpus` (nn_id, embedding).
    */
  private[graft] def annStreamTopk(qs: DataFrame, corpus: DataFrame,
                                   windowed: Boolean = false): DataFrame =
    servingTopkRank(
      watermarked(qs, windowed).join(corpus, col("nn_id") =!= col("qid"))
        .withColumn("cos", dot(col("qe"), col("embedding"))),
      windowed)

  /** The BOUNDED-STATE serving regime shared by the four `*_wm` serving
    * twins: when `windowed`, the arriving frame must
    * carry an `arrival_ts` event-time column (the staged-clock device —
    * a pure function of the arriving key, so the oracle can replay the
    * watermark exactly); the stateful aggregation keys by the
    * (1-day arrival window, key...) instead of the bare key, under a
    * 1-hour watermark in APPEND mode. Closed windows EVICT — the state
    * store holds only the open-horizon arrivals, never one group per
    * key EVER served (the Complete-mode accretion StreamingSpec
    * measures against this twin) — and a window's results emit exactly
    * once, when the watermark passes its end. The serving results
    * themselves are unchanged: each arriving key's group is wholly
    * inside its own arrival window, so windowing changes the STATE
    * REGIME, not the per-key answer.
    */
  private def watermarked(qs: DataFrame, windowed: Boolean): DataFrame =
    if (windowed) qs.withWatermark("arrival_ts", "1 hour") else qs

  private def servingGroup(scored: DataFrame, windowed: Boolean,
                           keys: Column*): org.apache.spark.sql.RelationalGroupedDataset =
    if (windowed)
      scored.groupBy(window(col("arrival_ts"), "1 day") +: keys: _*)
    else scored.groupBy(keys: _*)

  private def wstartCols(windowed: Boolean): Seq[Column] =
    if (windowed)
      Seq(col("window.start").cast("timestamp_ntz").as("wstart"))
    else Nil

  /** Shared bounded-heap ranking tail of the two ANN serving gates
    * (brute + IVF-pruned), in both state regimes.
    */
  private def servingTopkRank(scored: DataFrame, windowed: Boolean): DataFrame =
    servingGroup(scored, windowed, col("qid"))
      .agg(graft.functions.Aggregators.topK(3)(col("cos"), col("nn_id")).as("top"))
      .select(wstartCols(windowed) ++
        Seq(col("qid"), posexplode(col("top"))): _*)
      .select((if (windowed) Seq(col("wstart")) else Nil) ++ Seq(
        col("qid"), col("col._2").as("nn_id"),
        (col("pos") + 1L).as("rnk"),
        round(col("col._1"), 6).as("cos_sim")): _*)

  /** Every query row of a corpus or batch frame as (qid, qe). */
  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  /** Per-component fixed-point sums c0..c{Dim-1} of the vector column
    * `v` — each component quantized to floor(x·CentScale + 0.5) and
    * cast to long BEFORE the sum, so the sums are true integer
    * arithmetic (a double sum is exact only below 2^53, and the oracle
    * sums BIGINT). Integer addition is associative, so partial
    * aggregation and micro-batch merging are exact whatever the split.
    */
  private def fixedSums(v: Column): Seq[Column] =
    (0 until Dim).map(i =>
      sum(floor(element_at(v, i + 1).cast("double")
        * lit(CentScale.toDouble) + lit(0.5)).cast("long")).as(s"c$i"))

  // ---- The coarse quantizer -----------------------------------------

  /** The rank of a cell for a vector: (key, cell) ascending — the lower
    * key first, the smaller cell first on equal keys. The one statement
    * of the tie-break that every assignment, probe list and arrival-side
    * rank orders by; `ride` fields trail it and never decide the order,
    * since a cell appears once per vector.
    */
  private def cellRank(key: Column, cell: Column, ride: Column*): Column =
    struct(key.as("key") +: cell.as("cell") +: ride: _*)

  /** A coarse quantizer: its centroid table `cents` (cell, carr), at
    * most NCells rows, and its metric. `key` maps a centroid and a
    * vector to the cell's rank key (lower ranks first); `centDot`
    * recovers the centroid dot — SemDeDup's prototypicality key — from
    * a ranked (key, centroid, vector). Two constructors:
    *  - labelMeans: the per-label mean cells, ranked by max centroid dot
    *    (key = −dot, exact under IEEE negation); `cell` is int;
    *  - lloyd / trained: Lloyd cells, ranked by min L2² (their training
    *    metric); `cell` is bigint.
    * Scoring, assignment, probe selection and the per-row arrival-side
    * rank exist once, here, so a batch consumer and a streaming one
    * rank the same cells in the same order under either metric.
    */
  private[graft] final class Quantizer private (
      val cents: DataFrame,
      key: (Column, Column) => Column,
      centDot: (Column, Column, Column) => Column) {

    /** Every (vector, cell) pair of `e` with its rank key — a narrow
      * scan × broadcast, no exchange; cheap enough that consumers
      * rescore rather than cache it.
      */
    def scored(e: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("key", key(col("carr"), col("embedding")))

    /** Each vector's first-ranked cell via ONE bounded-state min_by:
      * partial aggregation collapses the ×NCells rows map-side and
      * nothing is sorted.
      */
    private def firstCell(scored: DataFrame, ride: Column*): DataFrame =
      scored.groupBy(col("vec_id"))
        .agg(min_by(struct(col("cell") +: col("embedding") +: ride: _*),
          cellRank(col("key"), col("cell"))).as("m"))

    /** (vec_id, cell, embedding) over an already-scored frame. */
    def assignedFrom(scored: DataFrame): DataFrame =
      firstCell(scored).select(col("vec_id"), col("m.cell").as("cell"),
        col("m.embedding").as("embedding"))

    def assigned(e: DataFrame): DataFrame = assignedFrom(scored(e))

    /** The inverted lists (nn_id, cell, embedding) of `e`. */
    def lists(e: DataFrame): DataFrame =
      assigned(e).withColumnRenamed("vec_id", "nn_id")

    /** (vec_id, cell, embedding, cdot): the assignment with the dot
      * against the assigned cell's centroid riding along.
      */
    def assignedWithDot(e: DataFrame): DataFrame =
      firstCell(scored(e), col("key"), col("carr"))
        .select(col("vec_id"), col("m.cell").as("cell"),
          col("m.embedding").as("embedding"),
          centDot(col("m.key"), col("m.carr"), col("m.embedding")).as("cdot"))

    /** (qid, cell): each query's first `nprobe` cells over a scored
      * frame — the rank window runs after the query filter, over
      * NQueries × NCells rows only.
      */
    def probes(scored: DataFrame, nprobe: Int): DataFrame =
      scored.filter(col("vec_id") < NQueries)
        .withColumn("crn", row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(cellRank(col("key"), col("cell")))))
        .filter(col("crn") <= nprobe)
        .select(col("vec_id").as("qid"), col("cell"))

    /** `rows` plus `cells`: the first `n` cells of vector `v` in rank
      * order, as (key, cell, carr) structs computed per row against the
      * centroid table collapsed to ONE broadcast row — a pure expression,
      * no window and no per-row state, so it is legal over a stream.
      * Slice 1 is assignedFrom's cell and slices 1..n are probes' list:
      * the same keys under the same tie-break.
      */
    def ranked(rows: DataFrame, v: Column, n: Int): DataFrame =
      rows.crossJoin(broadcast(cents.agg(
          array_sort(collect_list(struct(col("cell"), col("carr")))).as("cents"))))
        .withColumn("cells", slice(array_sort(transform(col("cents"), c =>
          cellRank(key(c.getField("carr"), v), c.getField("cell"),
            c.getField("carr").as("carr")))), 1, n))
        .drop("cents")

    /** The centroid dot of a `ranked` cell struct `m` for vector `v`. */
    def dotOf(m: Column, v: Column): Column =
      centDot(m.getField("key"), m.getField("carr"), v)
  }

  private[graft] object Quantizer {

    /** The label-mean cells: exact per-label mean vectors via
      * fixed-point integer sums — ONE groupBy(label) with Dim
      * bounded-state sum columns, no explode and no per-group buffer.
      * The ≤ NCells-row table is localCheckpointed, so the corpus
      * aggregate behind it runs once whatever the number of consumers
      * (free at any scale, where a corpus-sized materialization is
      * not), and no query path holds a bare cache() the session would
      * accumulate.
      */
    def labelMeans(s: SparkSession, d: String): Quantizer = {
      val sums = Tables.embeddingsSpread(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n"), fixedSums(col("embedding")): _*)
      val cents = sums.select(col("label").as("cell"),
        array((0 until Dim).map(i =>
          col(s"c$i").cast("double")
            / (col("n") * lit(CentScale)).cast("double")): _*).as("carr"))
        .localCheckpoint()
      new Quantizer(cents, (c, v) => -cdot(c, v), (k, _, _) => -k)
    }

    /** A driver-held Lloyd centroid table under its training metric,
      * min L2²; plans read it as a LocalRelation.
      */
    def trained(s: SparkSession, table: KmCents): Quantizer =
      new Quantizer(kmCentsDf(s, table), kmL2, (_, c, v) => cdot(c, v))

    /** Lloyd training over the corpus (kmCentroidSeq: full or sampled,
      * first-K or farthest-point seed), as the trained quantizer.
      */
    def lloyd(s: SparkSession, d: String, rounds: Int = KmRounds,
              sampled: Boolean = false, cells: Int = KmCells,
              seed: String = KmSeed): Quantizer =
      trained(s, kmCentroidSeq(Tables.embeddingsSpread(s, d), rounds,
        sampled, cells, seed).last)
  }

  /** The cell-assigned corpus (nn_id, cell, embedding) under the label
    * quantizer — the IVF inverted-list STORAGE UNIT: at scale this
    * table is what gets written `partitionBy("cell")` to the store, so
    * a probe-cell join becomes partition pruning on read.
    * PartitioningSpec writes this exact frame cell-partitioned at
    * sf0.001 and pins, on both faces, that the probe join's store scan
    * reads only the probed cells' files (batch: a dynamicpruning
    * predicate on the scan + files-read < total; streaming: the
    * per-micro-batch serving lookup inside the sink reads ≤
    * probed-cells' files).
    */
  private[graft] def ivfAssignedCorpus(s: SparkSession, d: String): DataFrame =
    Quantizer.labelMeans(s, d).lists(Tables.embeddingsSpread(s, d))

  /** The IVF probe-join / exact re-rank tail every IVF serving face
    * shares (one definition — the tie-break cannot drift between
    * quantizers or between batch and online serving): inverted lists
    * join the broadcast probe table, self-matches drop, exact cosine
    * ranks within each query's probed cells, top `topn` kept.
    */
  private def ivfTopkTail(assigned: DataFrame, probed: DataFrame,
                          q: DataFrame, topn: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nn_id"))
    assigned.join(broadcast(probed), "cell")
      .filter(col("nn_id") =!= col("qid"))
      .join(broadcast(q), "qid")
      .withColumn("cos", dot(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topn)
      .select(col("qid"), col("nn_id"),
        col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("cos_sim"))
  }

  // ---- The inverted-list codec --------------------------------------

  /** How an IVF index holds its inverted-list entries, in a plan and in
    * a persisted store, and how the entries serve a query. Two
    * constructors:
    *  - raw: the entries are the vectors, (nn_id, cell, embedding),
    *    ranked by exact cosine (ivfTopkTail);
    *  - pq: the entries are raw-PQ codes under ONE codebook, trained
    *    lazily, once per codec, on the checkpointed corpus subvectors:
    *    (vec_id, cell, sub_id, code) in a plan, one packed
    *    array<tinyint> row per vector in a store (packCodes), ranked by
    *    ADC against each query's LUT (pqQueryLut, adcServeTail).
    * Members:
    *  - lists: an assignment (vec_id, cell, embedding) → its entries;
    *  - rows / decode: entries → store rows, and a store scan → entries
    *    with `cell` as int (the type partition inference reads);
    *  - rebucket: a prior generation's store rows re-assigned under a
    *    new quantizer — raw PQ under a frozen codebook makes codes
    *    generation-invariant, so it re-buckets and never re-encodes;
    *  - serve: entries, a (qid, cell) probe list and the rows whose
    *    query vectors (vec_id < NQueries) it serves → each query's
    *    top-`topn`.
    * A codec's stores live under ivfStoreRoot(d) plus its namespace:
    * `root` for built and streaming-ingested stores, `refreshRoot` for
    * drift-refreshed generation stores — the two codecs never share a
    * LATEST marker. A refresh root resolves in two levels: its LATEST
    * names a gate run, the run's LATEST its current generation.
    */
  private[graft] final class Codec private (
      ns: String,
      val lists: DataFrame => DataFrame,
      val rows: DataFrame => DataFrame,
      val decode: DataFrame => DataFrame,
      val rebucket: (DataFrame, Quantizer) => DataFrame,
      val serve: (DataFrame, DataFrame, DataFrame, Int) => DataFrame) {
    def root(d: String): String = ivfStoreRoot(d) + (if (ns.isEmpty) "" else s"_$ns")
    def refreshRoot(d: String): String = s"${ivfStoreRoot(d)}_${ns}refresh"
  }

  private[graft] object Codec {
    val raw: Codec = new Codec("",
      _.withColumnRenamed("vec_id", "nn_id"),
      identity,
      _.select(col("nn_id"), col("embedding"), col("cell").cast("int").as("cell")),
      (prior, q) => q.lists(prior.select(col("nn_id").as("vec_id"), col("embedding"))),
      (lists, probed, rows, topn) => ivfTopkTail(lists, probed, queriesOf(rows), topn))

    /** `k` is the codebook size; the corpus is `d`'s, which a rebucket
      * reads the stored ids' vectors from (vec_id-keyed; co-partitioned
      * at scale).
      */
    def pq(s: SparkSession, d: String, k: Int = IvfPqK): Codec = {
      lazy val cb = pqCodebook(pqSubs(s, d).localCheckpoint(), k = k)
      new Codec("pq",
        a => a.select(col("vec_id"), col("cell")).join(
          pqAssign(pqSubsOf(a), cb).select(col("vec_id"), col("sub_id"), col("code")),
          "vec_id"),
        packCodes,
        _.select(col("vec_id"), col("cell").cast("int").as("cell"),
            posexplode(col("codes")))
          .select(col("vec_id"), col("cell"),
            col("pos").as("sub_id"), col("col").cast("long").as("code")),
        (prior, q) => {
          val pc = prior.select(col("vec_id"), col("codes"))
          pc.join(
            q.assigned(Tables.embeddingsSpread(s, d)
              .join(pc.select(col("vec_id")), "vec_id"))
              .select(col("vec_id"), col("cell")), "vec_id")
            .select(col("vec_id"), col("cell"), col("codes"))
        },
        (lists, probed, rows, topn) => adcServeTail(lists, probed,
          pqQueryLut(pqSubsOf(rows.filter(col("vec_id") < NQueries)), cb), topn))
    }
  }

  /** IVF top-`topn` of the query rows of `rows` from inverted `lists`
    * held by `codec` and built under `q`: each query's `nprobe`-cell
    * probe list from `scored` (the rows scored under `q`), then the
    * codec's serve. The serving step of the in-plan, persisted and
    * online faces alike.
    */
  private def ivfServe(codec: Codec, lists: DataFrame, q: Quantizer,
                       scored: DataFrame, rows: DataFrame,
                       nprobe: Int = NProbe, topn: Int = 3): DataFrame =
    codec.serve(lists, q.probes(scored, nprobe), rows, topn)

  /** The in-plan IVF top-k under quantizer `q` and `codec` over the
    * whole corpus's inverted lists — ann_ivf_topk / ann_ivfpq_topk on
    * the label cells, the _kmeans_ and _kmeans_sampled_ rows on Lloyd
    * cells — with the probed cells `nprobe` and the kept `topn` as
    * measurement knobs (the registered rows pin NProbe and 3;
    * VectorSpec measures the recall surface, IVFADC+R takes a
    * shortlist).
    */
  private[graft] def ivfTopk(s: SparkSession, d: String, q: Quantizer,
                             codec: Codec, nprobe: Int = NProbe,
                             topn: Int = 3): DataFrame = {
    val e = Tables.embeddingsSpread(s, d)
    ivfServe(codec, codec.lists(q.assigned(e)), q, q.scored(e), e, nprobe, topn)
  }

  /** The (qid, cell) probe list at an arbitrary `nprobe` — exactly
    * ann_ivf_topk's probe selection, exposed for the
    * inverted-list-store spec and the NProbe-knob measurement.
    */
  private[graft] def ivfProbedCells(s: SparkSession, d: String,
                                    nprobe: Int = NProbe): DataFrame = {
    val q = Quantizer.labelMeans(s, d)
    q.probes(q.scored(Tables.embeddingsSpread(s, d)), nprobe)
  }

  /** ANN serving WITH IVF pruning on the streaming face
    * (stream_ann_ivf_topk and its `_wm` twin): the static corpus is
    * cell-assigned once per micro-batch plan; an arriving query takes
    * its NProbe first cells from the label quantizer's per-row rank
    * (Quantizer.ranked — a window is illegal on a stream; the rank is
    * the batch probe window's keys and tie-break, so the probe SET
    * matches ann_ivf_topk's exactly and the oracle is its SQL verbatim)
    * and scores ONLY those cells' vectors, ranked by the bounded-heap
    * TopKAggregator as in annStreamTopk.
    * Scale shape: at 10⁹ vectors the assigned corpus is the
    * cell-partitioned table and the probe join is partition pruning
    * (measured in PartitioningSpec on the batch face and per serving
    * micro-batch); the centroid row is an O(NCells) broadcast and
    * per-query streamed work is O(N·NProbe/NCells).
    */
  private[graft] def annStreamIvfTopk(qs: DataFrame,
                                      s: SparkSession, d: String,
                                      nprobe: Int = NProbe,
                                      windowed: Boolean = false): DataFrame = {
    val q = Quantizer.labelMeans(s, d)
    val carry = if (windowed) Seq(col("arrival_ts")) else Nil
    val probes = q.ranked(watermarked(qs, windowed), col("qe"), nprobe)
      .select(Seq(col("qid"), col("qe"), explode(col("cells")).as("p")) ++ carry: _*)
      .select(Seq(col("qid"), col("qe"), col("p.cell").as("cell")) ++ carry: _*)
    servingTopkRank(
      // stream-static equi join: probed cells only
      probes.join(q.lists(Tables.embeddingsSpread(s, d)), "cell")
        .filter(col("nn_id") =!= col("qid"))
        .withColumn("cos", dot(col("qe"), col("embedding"))),
      windowed)
  }

  /** SemDeDup admission on the streaming face under quantizer `q` —
    * stream_semdedup (label cells, oracle = dedup_semdedup's SQL
    * verbatim) and stream_semdedup_kmeans (Lloyd cells, oracle =
    * dedup_semdedup_kmeans's): an arriving vector computes its OWN cell
    * and centroid dot as a pure per-row expression (semdedupArriving),
    * then stream-static LEFT joins the cell-assigned STATIC corpus on
    * cell and is admitted iff NO static same-cell member at
    * cos >= DedupCos dominates it on the (centroid dot, vec_id) key.
    * The only stateful operator is the per-arrival max
    * aggregation — admission state is one flag per arriving vector,
    * never a pair set. This is how SemDeDup runs over a 100 TB ingest:
    * centroids trained offline (O(NCells) broadcast), the admitted
    * corpus stored cell-partitioned (the PartitioningSpec storage unit),
    * each arriving shard checked against ITS cell's partition only.
    * `qs` must carry (vec_id, qe).
    */
  private[graft] def semdedupStreamAdmit(qs: DataFrame,
                                         s: SparkSession, d: String,
                                         q: Quantizer,
                                         windowed: Boolean = false): DataFrame = {
    val statics = semdedupIndex(s, d, q)
    val carry = if (windowed) Seq(col("arrival_ts")) else Nil
    val arriving = semdedupArriving(watermarked(qs, windowed), q, carry)
    servingGroup(
      arriving.join(statics, Seq("cell"), "left")
        .withColumn("dominated",
          col("nb_id").isNotNull && col("nb_id") =!= col("vec_id") &&
            dot(col("qe"), col("eb")) >= DedupCos &&
            struct(col("ncdot"), col("nb_id")) < struct(col("cdot"), col("vec_id"))),
      windowed, col("vec_id"), col("cell"), col("cdot"))
      .agg(max(when(col("dominated"), 1L).otherwise(0L)).as("dr"))
      .select(wstartCols(windowed) ++ Seq(col("vec_id"), col("cell"),
        round(col("cdot"), 6).as("cent_sim"),
        (lit(1L) - col("dr")).as("kept")): _*)
  }

  /** The static admission index under `q`: every corpus member as
    * (cell, nb_id, eb, ncdot), its dominance key ncdot the dot with its
    * cell's centroid — checkpointed, so the corpus × NCells scoring
    * runs once per gate.
    */
  private def semdedupIndex(s: SparkSession, d: String, q: Quantizer): DataFrame =
    q.assignedWithDot(Tables.embeddingsSpread(s, d))
      .select(col("cell"), col("vec_id").as("nb_id"),
        col("embedding").as("eb"), col("cdot").as("ncdot"))
      .localCheckpoint()

  /** An arriving vector's PRIMARY cell and centroid dot under `q` —
    * slice 1 of the quantizer's per-row rank, i.e. its batch
    * assignment: the admission gates' arrival-side assignment, shared
    * by semdedupStreamAdmit, semdedupAdmitStateless, the persisted
    * stores' streaming ingest (ivfArrivingAssign) and PartitioningSpec's
    * per-micro-batch admission-pruning measurement. `qs` carries
    * (vec_id, qe); extra columns ride via `carry`.
    */
  private[graft] def semdedupArriving(qs: DataFrame, q: Quantizer,
                                      carry: Seq[Column] = Nil): DataFrame =
    q.ranked(qs, col("qe"), 1)
      .select(Seq(col("vec_id"), col("qe"), col("cells").getItem(0).as("m")) ++
        carry: _*)
      .select(Seq(col("vec_id"), col("qe"), col("m.cell").as("cell"),
        q.dotOf(col("m"), col("qe")).as("cdot")) ++ carry: _*)

  /** STATELESS SemDeDup admission under quantizer `q` — the streaming
    * e2e curation composite's semantic-dedup stage (Lloyd cells):
    * arriving (vec_id, qe [, carry...]) rows take their cell from
    * semdedupArriving and DROP iff a static member of that cell
    * dominates them — the identical rule semdedupStreamAdmit's grouped
    * form applies (near-duplicate above DedupCos, dominator's
    * (cdot, id) smaller), expressed as a stream-static LEFT ANTI join
    * so the whole composite stays stateless end-to-end and can run
    * APPEND through the production parquet sink with no watermark. At
    * 100 TB the anti join's static side is the cell-partitioned member
    * store — the arriving row's cell key prunes it to one inverted
    * list, per-arrival cost bounded by cell width.
    */
  private[graft] def semdedupAdmitStateless(qs: DataFrame,
                                            s: SparkSession, d: String,
                                            q: Quantizer,
                                            carry: Seq[Column] = Nil): DataFrame = {
    val statics = semdedupIndex(s, d, q).withColumnRenamed("cell", "ncell")
    semdedupArriving(qs, q, carry)
      .join(statics,
        col("ncell") === col("cell") &&
          col("nb_id") =!= col("vec_id") &&
          dot(col("qe"), col("eb")) >= DedupCos &&
          struct(col("ncdot"), col("nb_id")) <
            struct(col("cdot"), col("vec_id")),
        "left_anti")
  }

  // ---- Streaming quantizer training (stream_kmeans_update) --------
  //
  // Online mini-batch k-means (the streaming face of the Lloyd loop —
  // Sculley, WWW'10 states the mini-batch protocol; the exactly-
  // mergeable-state form here is the CMS-pair device): the frozen
  // offline quantizer broadcasts, every ARRIVING vector assigns to its
  // nearest cell as a pure expression (slice 1 of Quantizer.ranked —
  // the batch assignment's own min-L2 rank, no window, no per-row
  // state), and the only stateful operator accumulates
  // per-cell (count, Σ fixed-point components): integer sums are
  // associative, so micro-batch merging is EXACT whatever the arrival
  // split, and state is ≤ KmCells groups × (Dim + 1) longs — bounded
  // by the GEOMETRY, not the stream (the bounded-state design CMS
  // pioneered for counts, applied to centroid training). The batch
  // post-pass turns the final sums into the updated centroid table —
  // exactly ONE MORE LLOYD ROUND over the union of arrived batches,
  // which is what makes the oracle exact: km{KmRounds+1} of the batch
  // chain, statement-for-statement.

  /** The streaming half: arriving vectors (qe = embedding) → pure-
    * expression nearest-cell assignment under the frozen quantizer →
    * per-cell integer-exact running sums. Legal over a streaming frame
    * (one stateful aggregation; everything upstream is stateless).
    */
  private[graft] def kmStreamSums(qs: DataFrame, q: Quantizer): DataFrame =
    q.ranked(qs, col("qe"), 1)
      .select(col("qe"), col("cells").getItem(0).getField("cell").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), fixedSums(col("qe")): _*)

  // ---- Driver-held k-means state ------------------------------------
  //
  // Every k-means centroid table and every set of per-cell training
  // sums is at most KmCells rows, so it lives on the driver as exact
  // values, never as a DataFrame lineage: the Lloyd rounds, the
  // MacQueen fold and the drift decisions are driver arithmetic over
  // one collect() of a ≤ KmCells-group aggregate (or over nothing at
  // all), and plans read a table through Quantizer.trained — a
  // LocalRelation, so plan depth stays constant whatever the round or
  // batch count.
  // The arithmetic is the engine's, bit for bit: a coordinate
  // quantizes as floor(x·CentScale + 0.5) to a long, a mean is
  // c.toDouble / (n·CentScale).toDouble, and every long add, subtract
  // and multiply is Math.*Exact, so an overflow fails loudly as ANSI
  // Spark's sum and * do.

  /** A centroid table: (cell, centroid) rows in cell order. */
  private[graft] type KmCents = Seq[(Long, Array[Double])]

  /** Per-cell training sums: cell → (n, Σ fixed-point components). */
  private[graft] type KmSums = Map[Long, (Long, Array[Long])]

  private val KmCentsSchema = StructType(Seq(
    StructField("cell", LongType), StructField("carr", ArrayType(DoubleType))))

  /** The plan-side view of a centroid table: a LocalRelation with the
    * (cell bigint, carr array<double>) schema every consumer reads.
    */
  private def kmCentsDf(s: SparkSession, c: KmCents): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(
      c.map { case (k, a) => Row(k, a.toSeq) }: _*), KmCentsSchema)

  /** A centroid DataFrame back on the driver — free (no job) on a
    * kmCentsDf view.
    */
  private[graft] def kmCentsOf(df: DataFrame): KmCents =
    df.select(col("cell"), col("carr")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq.sortBy(_._1)

  /** floor(x·CentScale + 0.5) as a long — Spark's floor(double). */
  private def kmFixed(x: Double): Long =
    math.floor(x * CentScale.toDouble + 0.5).toLong

  /** Per-cell sums of a (cell, n, c0..c{Dim-1}) frame, collected. */
  private def kmSumsOf(sums: DataFrame): KmSums =
    sums.select(col("cell") +: col("n") +: (0 until Dim).map(i => col(s"c$i")): _*)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), Array.tabulate(Dim)(i => r.getLong(i + 2))))
      .toMap

  /** Cumulative sums plus one batch's sums, cell by cell. */
  private[graft] def kmFoldSums(cum: KmSums, batch: KmSums): KmSums =
    batch.foldLeft(cum) { case (acc, (k, (n, c))) =>
      acc.updated(k, acc.get(k).fold((n, c)) { case (n0, c0) =>
        (Math.addExact(n0, n),
          Array.tabulate(Dim)(i => Math.addExact(c0(i), c(i))))
      })
    }

  /** Centroids from per-cell (count, Σ fixed-point) sums: cells with
    * mass take the integer-exact mean, empty cells keep their `base`
    * centroid. ONE definition for the Lloyd round (base = the previous
    * round), the merged-round finish (stream_kmeans_update) and the
    * MacQueen fold (base = the frozen quantizer).
    */
  private[graft] def kmCumCentroids(base: KmCents, sums: KmSums): KmCents =
    base.map { case (k, prev) =>
      k -> sums.get(k).fold(prev) { case (n, c) =>
        val den = Math.multiplyExact(n, CentScale).toDouble
        c.map(_.toDouble / den)
      }
    }

  /** A centroid table unnested to long form (kcell, pos, c) — the
    * shape a serving layer re-broadcasts and both streaming-training
    * gates emit.
    */
  private def kmUnnest(s: SparkSession, c: KmCents): DataFrame =
    kmCentsDf(s, c)
      .select(col("cell").as("kcell"), posexplode(col("carr")).as(Seq("pos", "c")))
      .select(col("kcell"), col("pos").cast("long").as("pos"), col("c"))

  /** The batch post-pass over the drained sums: integer-exact means,
    * empty cells keep the frozen quantizer's centroid, unnested to long
    * form.
    */
  private[graft] def kmStreamUpdateFinish(frozen: Quantizer,
                                          sums: DataFrame): DataFrame =
    kmUnnest(sums.sparkSession,
      kmCumCentroids(kmCentsOf(frozen.cents), kmSumsOf(sums)))

  /** stream_kmeans_update's oracle: the streamed update over ALL
    * arrived batches IS batch Lloyd round KmRounds+1 (integer sums
    * merge exactly across any batch split), so the oracle is the
    * training chain run one round deeper, unnested to the same long
    * form.
    */
  private[queries] lazy val kmStreamUpdateOracleSql: String = s"""
      WITH ${kmCtesSql(rounds = KmRounds + 1)}
      SELECT kcell, CAST(i - 1 AS BIGINT) AS pos, karr[i] AS c
      FROM km${KmRounds + 1}, LATERAL (SELECT unnest(range(1, ${Dim + 1})) AS i) t"""

  // ---- SEQUENTIAL mini-batch k-means (stream_kmeans_minibatch) ----
  //
  // stream_kmeans_update merges all arrivals into ONE Lloyd round —
  // order-free, exactly-mergeable, but the centroids move only at the
  // drain. The published ONLINE protocol moves them DURING the
  // stream: MacQueen (1967)'s running-mean update applied per
  // mini-batch (Sculley, WWW'10 §3 — the per-center learning rate
  // η_c = 1/counts[c] IS the running mean): each arriving batch
  // assigns under the CURRENT centroids, folds its per-cell integer
  // sums into the cumulative (count, Σ) state, and the centroids move
  // to the cumulative means BEFORE the next batch plans. That
  // feedback loop cannot be one streaming aggregation (a batch's
  // OUTPUT feeds the next batch's PLAN) — it is exactly what
  // foreachBatch exists for, and the cumulative state is a
  // KmCells-row table (at scale: an idempotent upsert keyed by batch
  // id — the foreachBatch replay contract StreamingSpec pins).
  // Everything stays engine-exact: assignment is the Lloyd quantizer's
  // min-L2 tie-break, sums are fixed-point integers, batch membership
  // and order are deterministic (vec_id % n staged by mtime), so the
  // oracle unrolls the per-batch chain CTE-for-CTE (mbRoundSql).

  /** Per-cell integer sums over an ALREADY-ASSIGNED frame (vec_id,
    * cell, embedding), collected — the Lloyd round's and the MacQueen
    * step's one action, split from the assignment so the online
    * serve-and-train gate can feed BOTH the emission and the step from
    * one nearest-cell scan.
    */
  private def kmAssignedSums(assigned: DataFrame): KmSums =
    kmSumsOf(assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), fixedSums(col("embedding")): _*))

  /** A protocol's half of one trainer step: the (vec_id, cell,
    * embedding) frame the MacQueen fold reads, the batch's emission
    * (if the protocol emits one), and the protocol's own state change,
    * run at the trainer's commit point.
    */
  private[graft] final case class KmServed(assigned: DataFrame,
                                           emission: Option[DataFrame] = None,
                                           publish: () => Unit = () => ())

  /** The online k-means trainer — MacQueen's running mean, one step
    * per micro-batch — under a serving protocol fixed when the
    * instance is built: a subclass supplies `serve`, and the trainer
    * owns the state every protocol shares (the frozen starting
    * quantizer, the cumulative per-cell sums, the current centroids,
    * the applied batch ids and the emissions). The centroids and sums
    * are exact driver values of ≤ KmCells rows (KmCents/KmSums), so a
    * step's control work — the fold, the means, every drift decision —
    * is driver arithmetic over ONE collect() of the batch's per-cell
    * sums, and plans read the centroids as a LocalRelation whose depth
    * is constant in the batch count.
    *
    * Invariants of `step`, whatever the protocol:
    *  - idempotent per batch id: an applied id is a no-op, so a
    *    foreachBatch redelivery cannot double-count a batch;
    *  - one commit point: `serve` materializes its tables and mutates
    *    no instance state; the sums, the centroids, the protocol's
    *    state and the emission move together after the fold, and the
    *    id joins the applied set last — a failure anywhere before
    *    leaves the instance untouched, so the redelivered id
    *    re-applies;
    *  - replay safety within one process: the applied set lives on the
    *    driver, so a fresh instance (a restarted stream) starts from
    *    batch 0; at scale it is an idempotent upsert keyed by batch id
    *    in a transactional store.
    */
  private[graft] abstract class KmMiniBatch(s: SparkSession, d: String) {
    protected final val frozen: KmCents =
      kmCentroidSeq(Tables.embeddingsSpread(s, d), KmRounds).last
    private var cum: KmSums = Map.empty
    private var current: KmCents = frozen
    private val applied = scala.collection.mutable.Set.empty[Long]
    // per-batch checkpointed emissions, unioned at the result call, so
    // emission work stays linear in the batch count
    private var emitted: List[DataFrame] = Nil

    /** The centroids the next batch assigns under. */
    protected final def cents: KmCents = current
    protected final def quant(c: KmCents): Quantizer = Quantizer.trained(s, c)

    /** The protocol's half of one step, run under `cents`. */
    protected def serve(batch: DataFrame, batchId: Long): KmServed

    /** One step over micro-batch `batchId` — the foreachBatch body. */
    final def step(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (applied.contains(batchId)) return
      val served = serve(batch, batchId)
      val newCum = kmFoldSums(cum, kmAssignedSums(served.assigned))
      val newCents = kmCumCentroids(frozen, newCum)
      // commit point
      cum = newCum
      current = newCents
      served.publish()
      emitted = emitted ++ served.emission
      applied.add(batchId)
    }

    /** The current centroid table in long form (kcell, pos, c). */
    def result(): DataFrame = kmUnnest(s, cents)

    /** Every applied batch's emission. */
    protected final def emissions: DataFrame = {
      require(emitted.nonEmpty,
        "no served batch yet — the gate must drive at least one step")
      emitted.reduce(_ unionAll _)
    }
  }

  /** Train only (stream_kmeans_minibatch): the batch assigns under the
    * current centroids inside the fold's own plan.
    */
  private[graft] final class KmTrainOnly(s: SparkSession, d: String)
      extends KmMiniBatch(s, d) {
    protected def serve(batch: DataFrame, batchId: Long): KmServed =
      KmServed(quant(cents).assigned(batch))
  }

  /** Serve, then train (stream_kmeans_online_serve): the batch's
    * vectors assign under the current centroids and that assignment is
    * both the emission and the fold's input — one nearest-cell scan
    * per batch — so the moved centroids are what the next batch
    * assigns under.
    */
  private[graft] final class KmServeAssign(s: SparkSession, d: String)
      extends KmMiniBatch(s, d) {
    protected def serve(batch: DataFrame, batchId: Long): KmServed = {
      val assigned = quant(cents).assigned(batch).localCheckpoint()
      KmServed(assigned,
        Some(assigned.select(col("vec_id"), col("cell").as("kcell"))))
    }

    /** Every batch's (vec_id, kcell): batch r assigned under the
      * centroids after r steps.
      */
    def servedResult(): DataFrame = emissions
  }

  /** The index a generation protocol serves from. A generation is
    * built whole under one quantizer and grows by appends assigned
    * under that same quantizer, so probes and lists never mix
    * generations.
    */
  private[graft] trait KmArtifact {
    type Gen

    /** The generation serving batch `batchId`, and the batch's top-3
      * served from it: on `rebuild` a new generation holding `prior`'s
      * corpus and the batch, assigned under `q`; otherwise `prior` with
      * the batch appended. `q` is the serving generation's quantizer
      * (the current one on a rebuild) and `bscored` the batch scored
      * under it. The caller commits the returned generation; nothing
      * else may depend on it before.
      */
    def advance(prior: Option[Gen], rebuild: Boolean, q: Quantizer,
                bscored: DataFrame, batch: DataFrame,
                batchId: Long): (Gen, DataFrame)
  }

  /** In-memory inverted lists: the full corpus assigned under the
    * generation's quantizer, checkpointed. The corpus is static, so an
    * append keeps the lists as they are.
    */
  private[graft] final class KmLists(s: SparkSession, d: String) extends KmArtifact {
    type Gen = DataFrame

    def advance(prior: Option[DataFrame], rebuild: Boolean, q: Quantizer,
                bscored: DataFrame, batch: DataFrame,
                batchId: Long): (DataFrame, DataFrame) = {
      val lists =
        if (rebuild) q.lists(Tables.embeddingsSpread(s, d)).localCheckpoint()
        else prior.get
      (lists, ivfServe(Codec.raw, lists, q, bscored, batch))
    }
  }

  /** A persisted, cell-partitioned generation store of `codec`'s rows
    * (stream_ann_ivf_persisted_refresh on raw vectors,
    * stream_ann_ivfpq_persisted_refresh on PQ codes). Each instance
    * writes one run directory under the codec's refreshRoot; generation
    * g is the directory gen_g (partitionBy ingest, cell) and the run's
    * LATEST marker names the serving one.
    *  - rebuild: the prior generation's rows, re-bucketed by the codec
    *    under the current quantizer, and the batch's rows overwrite
    *    gen_batchId, then LATEST switches to it (tmp + rename — atomic);
    *  - append: the batch's rows land as the current generation's
    *    ingest=batchId partitions by dynamic overwrite;
    *  - serve: the codec's serve over the generation's decoded scan,
    *    which the broadcast probe join prunes to the probed cells.
    * Replay-safe within one process: a rebuild rewrites a directory
    * named by the batch id, an append overwrites only its own ingest
    * partition, and the prior corpus is read from the committed
    * generation, never from LATEST — a redelivered batch reproduces
    * the store whatever the failure point. Reads pass the written
    * schema (genSchema), so no read infers one.
    */
  private[graft] final class KmGenStore(s: SparkSession, d: String, codec: Codec)
      extends KmArtifact {
    type Gen = String

    private val storeRoot = codec.refreshRoot(d)

    /** This instance's run directory. */
    val runRoot: String = s"$storeRoot/run_${System.nanoTime()}"

    /** Store rows as ingest = batchId: data columns, ingest, cell. */
    private def stamped(rows: DataFrame, batchId: Long): DataFrame =
      rows.select(rows.columns.toSeq.filter(_ != "cell").map(col) ++
        Seq(lit(batchId).as("ingest"), col("cell")): _*)

    def advance(prior: Option[String], rebuild: Boolean, q: Quantizer,
                bscored: DataFrame, batch: DataFrame,
                batchId: Long): (String, DataFrame) = {
      val rows = stamped(codec.rows(codec.lists(q.assignedFrom(bscored))), batchId)
      def read(dir: String) = s.read.schema(genSchema(rows)).parquet(dir)
      val dir = if (rebuild) s"$runRoot/gen_$batchId" else prior.get
      val out =
        if (rebuild) prior.fold(rows)(g =>
          stamped(codec.rebucket(read(g), q), batchId).unionByName(rows))
        else rows
      val w = out.repartition(col("cell")).write.mode("overwrite")
      (if (rebuild) w else w.option("partitionOverwriteMode", "dynamic"))
        .partitionBy("ingest", "cell").parquet(dir)
      ivfStoreCommitLatest(runRoot, dir)
      (dir, ivfServe(codec, codec.decode(read(dir)), q, bscored, batch))
    }

    /** At drain: compact the current generation, bound the run to ≤ 2
      * generations (ivfStoreFinalize), then publish the run as the
      * store root's current one.
      */
    def publish(): Unit = {
      ivfStoreFinalize(s, runRoot)
      ivfStoreCommitLatest(storeRoot, runRoot)
    }
  }

  /** Threshold that trips on every batch: kmDriftFp2 ≥ 0 > -1. */
  private[graft] val KmRebuildAlways: Long = -1L

  /** Drift-gated IVF serving from a generation `artifact` under the
    * moving quantizer (stream_ann_ivf_online_topk with
    * thr = KmRebuildAlways, stream_ann_ivf_online_topk_drift over
    * KmLists, and the two persisted-refresh gates over a KmGenStore of
    * the raw or the PQ codec, all with thr = KmDriftRebuild). One step:
    *  - rebuild iff there is no generation yet or the trainer has
    *    drifted past `thr` since the serving generation was built
    *    (kmDriftFp2 — max per-cell squared movement, exact fixed
    *    point, driver arithmetic);
    *  - the batch is scored ONCE under the serving generation's
    *    quantizer and checkpointed; that scan feeds the batch's store
    *    rows, the probe ranking and, on a rebuild batch (where the
    *    generation's quantizer IS the current one), the fold;
    *  - the artifact builds or appends and serves the batch's queries;
    *  - the fold reads the batch under the current centroids, so the
    *    trainer trajectory is the same whatever the artifact or `thr`;
    *  - the commit point moves the generation, its quantizer, the
    *    rebuild log and the emission together.
    */
  private[graft] final class KmIvfGenerations[A <: KmArtifact](
      s: SparkSession, d: String, thr: Long, val artifact: A)
      extends KmMiniBatch(s, d) {
    private var gen: Option[artifact.Gen] = None
    private var genCents: KmCents = frozen
    private var rebuilt: List[Long] = Nil

    protected def serve(batch: DataFrame, batchId: Long): KmServed = {
      val rebuild = gen.isEmpty || kmDriftFp2(cents, genCents) > thr
      val srvCents = if (rebuild) cents else genCents
      val srv = quant(srvCents)
      val bscored = srv.scored(batch.select(col("vec_id"), col("embedding")))
        .localCheckpoint()
      val (g, topk) = artifact.advance(gen, rebuild, srv, bscored, batch, batchId)
      val cur = topk.localCheckpoint()
      val assigned =
        if (rebuild) srv.assignedFrom(bscored)
        else quant(cents).assigned(batch)
      KmServed(assigned, Some(cur), () => {
        gen = Some(g)
        genCents = srvCents
        if (rebuild) rebuilt = rebuilt :+ batchId
      })
    }

    /** Batch ids that built a generation (batch 0 always); for a store
      * artifact, entry g names the directory gen_g under its run root.
      */
    def rebuildLog: Seq[Long] = rebuilt

    /** Every batch's top-3: batch r's queries served from the
      * generation committed at batch r.
      */
    def servedTopkResult(): DataFrame = emissions
  }

  /** Per-cell incremental reindexing (stream_ann_ivf_online_topk_incr):
    * a cell whose OWN centroid moved past KmDriftRebuild since its list
    * was built re-assigns its members under the current quantizer, and
    * they migrate into their new cells' lists (a patchwork index);
    * unmoved cells keep their lists. Probes always score under the
    * current quantizer, and that batch scan also feeds the fold. The
    * moved set and the centroid patch are driver arithmetic
    * (kmDriftPerCell); the member migration is the only data work —
    * a batch with no moved cell unions an empty re-assignment — so
    * re-assignment work per batch is the moved cells' members.
    */
  private[graft] final class KmIvfIncr(s: SparkSession, d: String)
      extends KmMiniBatch(s, d) {
    // each cell's list-build centroid and the lists, moved at the
    // commit point
    private var cellCents: KmCents = frozen
    private var lists: Option[DataFrame] = None
    private var movedLog: List[Seq[Long]] = Nil

    protected def serve(batch: DataFrame, batchId: Long): KmServed = {
      val q = quant(cents)
      val (newLists, newCellCents, moved) = lists match {
        case None =>
          // initial build: every list under the frozen quantizer
          val built = q.lists(Tables.embeddingsSpread(s, d)).localCheckpoint()
          (built, cents, cents.map(_._1))
        case Some(prev) =>
          val moved = kmDriftPerCell(cents, cellCents)
            .collect { case (k, d2) if d2 > KmDriftRebuild => k }
          val inMoved = col("cell").isin(moved: _*)
          val rea = q.lists(prev.filter(inMoved)
            .select(col("nn_id").as("vec_id"), col("embedding")))
          val now = cents.toMap
          val ncc = cellCents.map { case (k, prevK) =>
            k -> (if (moved.contains(k)) now(k) else prevK)
          }
          (prev.filter(!inMoved).unionAll(rea).localCheckpoint(), ncc, moved)
      }
      val bscored = q.scored(batch).localCheckpoint()
      val cur = ivfServe(Codec.raw, newLists, q, bscored, batch).localCheckpoint()
      KmServed(q.assignedFrom(bscored), Some(cur), () => {
        lists = Some(newLists)
        cellCents = newCellCents
        movedLog = movedLog :+ moved
      })
    }

    /** Per-batch moved-cell sets (batch 0 = all cells, the initial
      * build) — the re-assignment-work surface.
      */
    def movedCells: Seq[DataFrame] = movedLog.map(m =>
      kmCentsDf(s, frozen.filter(c => m.contains(c._1))).select(col("cell")))

    /** The current patchwork lists (every vector in exactly one). */
    private[graft] def listsTable: DataFrame = {
      require(lists.nonEmpty, "listsTable before any incremental batch")
      lists.get
    }

    /** Every batch's top-3 from the lists as patched at that batch. */
    def servedTopkResult(): DataFrame = emissions
  }

  /** The read schema of a refresh-store generation written from `rows`
    * with partitionBy("ingest", "cell"): the data columns as written,
    * the two partition columns typed as directory inference types them
    * (int), so a store read runs no schema-inference job and plans
    * exactly as an inferring read would.
    */
  private def genSchema(rows: DataFrame): StructType =
    StructType(rows.schema.filterNot(f => f.name == "ingest" || f.name == "cell") ++
      Seq(StructField("ingest", IntegerType), StructField("cell", IntegerType)))

  /** One oracle mini-batch step r (of `nb`): batch membership, L2²
    * distances vs the CURRENT centroids mbc$r, ranked assignment,
    * per-(cell, dim) integer sums, cumulative fold, and the next
    * centroid table mbc${r+1} (cells with cumulative mass take the
    * running mean, empty cells keep the FROZEN mbc0) — mirroring
    * KmTrainOnly's step statement-for-statement (the kmRoundSql
    * device over batch prefixes).
    */
  private def mbRoundSql(r: Int, nb: Int): String = s"""mb$r AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % $nb = $r),
      mbd$r AS (${kmDistSql(s"mbc$r", s"mb$r")}),
      mba$r AS MATERIALIZED (
        SELECT vec_id, kcell FROM (
          SELECT vec_id, kcell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rnk
          FROM mbd$r) t WHERE rnk = 1),
      mbt$r AS (
        SELECT a.kcell, i,
               SUM(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * ${CentScale}.0 + 0.5) AS BIGINT)) AS c,
               COUNT(*) AS n
        FROM mba$r a JOIN mb$r e USING (vec_id),
             (SELECT unnest(range(1, ${Dim + 1})) AS i) mdims$r
        GROUP BY 1, 2),
      mcum$r AS MATERIALIZED (${
        if (r == 0) s"SELECT kcell, i, c, n FROM mbt0"
        else s"""
        SELECT kcell, i, SUM(c) AS c, SUM(n) AS n
        FROM (SELECT * FROM mcum${r - 1} UNION ALL SELECT * FROM mbt$r)
        GROUP BY 1, 2"""}),
      mbc${r + 1} AS MATERIALIZED (
        SELECT f.kcell, COALESCE(m.karr, f.karr) AS karr
        FROM mbc0 f LEFT JOIN (
          SELECT kcell, list(CAST(c AS DOUBLE) / CAST(n * $CentScale AS DOUBLE) ORDER BY i) AS karr
          FROM mcum$r GROUP BY kcell) m
        ON m.kcell = f.kcell)"""

  /** stream_kmeans_minibatch's oracle: the frozen training chain
    * (mbc0 = kmc), then `KmMbBatches` unrolled MacQueen steps, final
    * centroids unnested.
    */
  private[queries] lazy val kmMiniBatchOracleSql: String = s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until KmMbBatches).map(mbRoundSql(_, KmMbBatches)).mkString(",\n      ")}
      SELECT kcell, CAST(i - 1 AS BIGINT) AS pos, karr[i] AS c
      FROM mbc$KmMbBatches, LATERAL (SELECT unnest(range(1, ${Dim + 1})) AS i) t"""

  /** stream_kmeans_online_serve's oracle: the SAME unrolled MacQueen
    * chain, but the result is the per-batch SERVED assignments — each
    * step's mba$r CTE already IS batch r's assignment under the
    * centroids current when it arrived (mbc$r), so the emission is
    * their union and a batch served under the wrong centroid
    * generation hash-mismatches, not just drifts.
    */
  private[queries] lazy val kmOnlineServeOracleSql: String = s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until KmMbBatches).map(mbRoundSql(_, KmMbBatches)).mkString(",\n      ")}
      SELECT vec_id, kcell FROM (${(0 until KmMbBatches)
        .map(r => s"SELECT vec_id, kcell FROM mba$r").mkString(" UNION ALL ")}) u"""

  /** stream_ann_ivf_online_topk's oracle: the SAME unrolled MacQueen
    * chain, then per batch r a COMPLETE IVF serving chain under the
    * generation-r centroids mbc$r — full-corpus ranked assignment,
    * the batch's query probe lists, and the shared exact re-rank tail
    * (ivfTopkTailSql verbatim, via the nested-WITH device so its
    * assigned/probed/q names bind per batch) — unioned, so serving
    * any batch's queries against a stale-generation index OR probe
    * list hash-mismatches.
    */
  private[queries] lazy val kmOnlineIvfTopkOracleSql: String = {
    val perBatch = (0 until KmMbBatches).map { r =>
      s"""SELECT qid, nn_id, rnk, cos_sim FROM (
        WITH oad$r AS (${kmDistSql(s"mbc$r")}),
        assigned AS (
          SELECT vec_id AS nn_id, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rnk
            FROM oad$r) t WHERE rnk = 1),
        probed AS (
          SELECT vec_id AS qid, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS crn
            FROM oad$r
            WHERE vec_id < $NQueries AND vec_id % $KmMbBatches = $r) t
          WHERE crn <= $NProbe),
        q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
              WHERE vec_id < $NQueries AND vec_id % $KmMbBatches = $r),
        $ivfTopkTailSql) srv$r"""
    }
    s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until KmMbBatches).map(mbRoundSql(_, KmMbBatches)).mkString(",\n      ")}
      SELECT qid, nn_id, rnk, cos_sim FROM (
        ${perBatch.mkString("\n        UNION ALL\n        ")}) u"""
  }

  /** Per-cell drift rows (kcell, d2) between two centroid CTEs — the
    * oracle twin of kmDriftPerCell: FLOOR fixed-point quantization per
    * coordinate, BIGINT squared deltas summed per cell. Shared by the
    * whole-index gate's MAX wrapper (kmDriftPairSql — the one
    * generation-pair scalar subquery the decision CTE names per (r, g)
    * pair, the exact integer kmDriftFp2 computes) and the per-cell
    * incremental gate's moved-set CTEs.
    */
  private def kmDriftCellsSql(cur: String, old: String): String = {
    val qa = s"CAST(FLOOR(a.karr[i] * ${CentScale}.0 + 0.5) AS BIGINT)"
    val qb = s"CAST(FLOOR(b.karr[i] * ${CentScale}.0 + 0.5) AS BIGINT)"
    s"""SELECT a.kcell, SUM(($qa - $qb) * ($qa - $qb)) AS d2
            FROM $cur a JOIN $old b USING (kcell),
                 (SELECT unnest(range(1, ${Dim + 1})) AS i) di
            GROUP BY a.kcell"""
  }

  private def kmDriftPairSql(r: Int, g: Int): String =
    s"""(SELECT MAX(d2) FROM (
            ${kmDriftCellsSql(s"mbc$r", s"mbc$g")}) t)"""

  /** stream_ann_ivf_online_topk_drift's oracle: the SAME unrolled
    * MacQueen chain as the always-rebuild gate (training is identical
    * — the drift gate changes only which generation SERVES), plus the
    * drift rule stated in SQL: `gens` computes, per batch r, the
    * active index generation g_r by the engine's own recurrence
    * (g_0 = 0; g_r = r when the fixed-point drift between the current
    * quantizer mbc_r and the last-rebuilt mbc_{g_{r-1}} exceeds
    * KmDriftRebuild, else g_{r-1}), and each batch's COMPLETE IVF
    * serving chain — full-corpus inverted lists AND the batch's query
    * probe lists — runs under the SELECTED generation's centroids
    * (srvc$r), so a rebuild the engine skipped, or a skip it took,
    * hash-mismatches the emission rather than just drifting recall.
    */
  private[queries] lazy val kmOnlineIvfDriftTopkOracleSql: String =
    kmDriftServeOracleSql(arrivedOnly = false)

  /** stream_ann_ivf_persisted_refresh's oracle: the SAME drift-gated
    * chain, with the serving corpus per batch restricted to the
    * vectors that have ARRIVED (vec_id % nb <= r) — the composed
    * gate's store holds only the ingested corpus, every row of it
    * assigned under the current generation's quantizer (appends land
    * under the generation they arrive into; a tripped rebuild
    * re-assigns the whole arrived corpus into a new generation dir),
    * so the generation rule is stated batch-for-batch: a rebuild the
    * engine skipped, an append mis-assigned, or a generation served
    * after its supersession hash-mismatches the emission.
    */
  private[queries] lazy val kmOnlineIvfPersistedRefreshOracleSql: String =
    kmDriftServeOracleSql(arrivedOnly = true)

  /** The drift-gated serving chain's oracle builder — ONE definition
    * for the in-memory gate (full static corpus) and the persisted
    * refresh gate (arrived corpus only), so the generation recurrence
    * and the serving arithmetic cannot drift between the two faces.
    */
  private def kmDriftServeOracleSql(arrivedOnly: Boolean): String = {
    val nb = KmMbBatches
    val perBatch = (0 until nb).map { r =>
      // the serving corpus: the full static table for the in-memory
      // gate; the arrived prefix (batches 0..r) for the refresh gate
      val arrCte = if (arrivedOnly)
        s"""arr$r AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % $nb <= $r),
        """ else ""
      val corpus = if (arrivedOnly) s"arr$r" else "embeddings"
      s"""SELECT qid, nn_id, rnk, cos_sim FROM (
        WITH ${arrCte}oad$r AS (${kmDistSql(s"srvc$r", corpus)}),
        assigned AS (
          SELECT vec_id AS nn_id, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rnk
            FROM oad$r) t WHERE rnk = 1),
        probed AS (
          SELECT vec_id AS qid, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS crn
            FROM oad$r
            WHERE vec_id < $NQueries AND vec_id % $nb = $r) t
          WHERE crn <= $NProbe),
        q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
              WHERE vec_id < $NQueries AND vec_id % $nb = $r),
        $ivfTopkTailSql) srv$r"""
    }
    s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until nb).map(mbRoundSql(_, nb)).mkString(",\n      ")},
      ${kmDriftGensSrvcSql(nb)}
      SELECT qid, nn_id, rnk, cos_sim FROM (
        ${perBatch.mkString("\n        UNION ALL\n        ")}) u"""
  }

  /** The drift recurrence stated in SQL — ONE definition for every
    * drift-gated oracle face (cosine serving, ADC code-store serving):
    * `gens` computes, per batch r, the active index generation g_r by
    * the engine's own rule (g_0 = 0; g_r = r when the fixed-point
    * drift between mbc_r and the last-rebuilt mbc_{g_{r-1}} exceeds
    * KmDriftRebuild, else g_{r-1}), and srvc$r selects the SELECTED
    * generation's centroid table for batch r's whole serving chain.
    */
  private def kmDriftGensSrvcSql(nb: Int): String = {
    val driftRow = (1 until nb).flatMap(r => (0 until r).map(g =>
      s"${kmDriftPairSql(r, g)} AS d${r}_$g")).mkString(",\n             ")
    val gensSql = {
      var q = s"SELECT 0 AS g0,\n             $driftRow"
      for (r <- 1 until nb) {
        val pick = s"(CASE g${r - 1}${(0 until r)
          .map(g => s" WHEN $g THEN d${r}_$g").mkString} END)"
        q = s"SELECT *, CASE WHEN $pick > $KmDriftRebuild THEN $r ELSE g${r - 1} END AS g$r FROM ($q)"
      }
      s"gens AS MATERIALIZED ($q)"
    }
    val srvc = (0 until nb).map { r =>
      val union = (0 to r).map(g => s"SELECT $g AS g, kcell, karr FROM mbc$g")
        .mkString("\n            UNION ALL ")
      s"""srvc$r AS MATERIALIZED (
          SELECT u.kcell, u.karr FROM ($union) u
          WHERE u.g = (SELECT g$r FROM gens))"""
    }.mkString(",\n      ")
    s"$gensSql,\n      $srvc"
  }

  /** stream_ann_ivfpq_persisted_refresh's oracle — the drift-refreshed
    * PERSISTED CODE STORE's full contract in SQL (refresh × the PQ
    * code table): the SAME
    * unrolled MacQueen chain and generation recurrence as the raw
    * refresh face (kmDriftGensSrvcSql — one definition, the rule
    * cannot drift between the two stores), with each batch's serving
    * chain being the ADC one — the arrived corpus's CELLS assigned
    * under the SELECTED generation's quantizer (srvc$r), the batch's
    * query probe lists under the same generation, the FROZEN
    * offline-trained codebook's code table and query LUT (pqCtesSql's
    * codes/lut — codes are generation-invariant: raw non-residual PQ
    * under a frozen codebook, so a rebuild re-buckets stored codes,
    * never re-quantizes), and the shared ADC distance + ranked-top-3
    * tail (adcDistSql/adcTopkTailSql verbatim). A rebuild the engine
    * skipped, an append mis-bucketed, a code mis-packed by any
    * generation's write, or a superseded generation served
    * hash-mismatches the emission batch-for-batch.
    */
  private[queries] lazy val kmOnlineIvfPqPersistedRefreshOracleSql: String = {
    val nb = KmMbBatches
    val perBatch = (0 until nb).map { r =>
      s"""SELECT qid, nn_id, rnk, adist FROM (
        WITH arr$r AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % $nb <= $r),
        oad$r AS (${kmDistSql(s"srvc$r", s"arr$r")}),
        ivf_assigned AS (
          SELECT vec_id, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rnk
            FROM oad$r) t WHERE rnk = 1),
        ivf_probed AS (
          SELECT vec_id AS qid, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS crn
            FROM oad$r
            WHERE vec_id < $NQueries AND vec_id % $nb = $r) t
          WHERE crn <= $NProbe),
        $adcDistSql,
        $adcTopkTailSql) srv$r"""
    }
    s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until nb).map(mbRoundSql(_, nb)).mkString(",\n      ")},
      ${kmDriftGensSrvcSql(nb)},
      ${pqCtesSql(k = IvfPqK)},
      $adcCodesLutSql
      SELECT qid, nn_id, rnk, adist FROM (
        ${perBatch.mkString("\n        UNION ALL\n        ")}) u"""
  }

  /** stream_ann_ivf_online_topk_incr's oracle: the SAME unrolled
    * MacQueen chain, with the PER-CELL incremental-reindex state
    * evolved batch-for-batch in SQL — per batch r the per-cell drift
    * rows against each cell's own list-build centroid (icc${r-1}),
    * the moved set (d2 > KmDriftRebuild), the member MIGRATION (moved
    * cells' list members re-assigned under mbc$r and unioned with the
    * untouched lists — a member may land in a cell that was not
    * itself rebuilt, exactly the engine's patchwork), and the
    * centroid patch (moved cells take mbc$r's centroid, the rest keep
    * their build-time value). Serving batch r probes under the
    * CURRENT quantizer mbc$r against the patchwork lists$r — so a
    * wrong moved set, a member left behind, or a stale probe anywhere
    * hash-mismatches the emission.
    */
  private[queries] lazy val kmOnlineIvfIncrTopkOracleSql: String = {
    val nb = KmMbBatches
    val chain = (1 until nb).map { r =>
      s"""icd$r AS (${kmDriftCellsSql(s"mbc$r", s"icc${r - 1}")}),
      mvd$r AS MATERIALIZED (
        SELECT kcell FROM icd$r WHERE d2 > $KmDriftRebuild),
      mem$r AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e
        JOIN lists${r - 1} l ON l.vec_id = e.vec_id
        JOIN mvd$r m ON m.kcell = l.cell),
      red$r AS (${kmDistSql(s"mbc$r", s"mem$r")}),
      rea$r AS (
        SELECT vec_id, kcell FROM (
          SELECT vec_id, kcell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rn
          FROM red$r) t WHERE rn = 1),
      lists$r AS MATERIALIZED (
        SELECT l.vec_id, l.cell FROM lists${r - 1} l
        LEFT JOIN mvd$r m ON m.kcell = l.cell WHERE m.kcell IS NULL
        UNION ALL SELECT vec_id, kcell AS cell FROM rea$r),
      icc$r AS MATERIALIZED (
        SELECT i.kcell,
               CASE WHEN m.kcell IS NOT NULL THEN c.karr ELSE i.karr END AS karr
        FROM icc${r - 1} i
        JOIN mbc$r c ON c.kcell = i.kcell
        LEFT JOIN mvd$r m ON m.kcell = i.kcell)"""
    }.mkString(",\n      ")
    val perBatch = (0 until nb).map { r =>
      s"""SELECT qid, nn_id, rnk, cos_sim FROM (
        WITH qb$r AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < $NQueries AND vec_id % $nb = $r),
        oaq$r AS (${kmDistSql(s"mbc$r", s"qb$r")}),
        assigned AS (SELECT vec_id AS nn_id, cell FROM lists$r),
        probed AS (
          SELECT vec_id AS qid, kcell AS cell FROM (
            SELECT vec_id, kcell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS crn
            FROM oaq$r) t
          WHERE crn <= $NProbe),
        q AS (SELECT vec_id AS qid, embedding AS qe FROM qb$r),
        $ivfTopkTailSql) srv$r"""
    }
    s"""
      WITH ${kmCtesSql()},
      mbc0 AS (SELECT * FROM kmc),
      ${(0 until nb).map(mbRoundSql(_, nb)).mkString(",\n      ")},
      icc0 AS (SELECT kcell, karr FROM mbc0),
      lists0 AS MATERIALIZED (
        SELECT vec_id, kcell AS cell FROM kmranked WHERE crn = 1),
      $chain
      SELECT qid, nn_id, rnk, cos_sim FROM (
        ${perBatch.mkString("\n        UNION ALL\n        ")}) u"""
  }

  /** Micro-batch count for the sequential trainer's gate (vec_id %
    * KmMbBatches membership, staged by mtime — order is part of the
    * contract: a different arrival order gives a DIFFERENT, equally
    * valid, online-training trajectory).
    */
  private[graft] val KmMbBatches = 4

  /** Per-cell squared fixed-point drift between two centroid tables —
    * (kcell, d2) pairs over the cells both hold, in EXACT arithmetic:
    * each coordinate quantizes as floor(c·CentScale + 0.5) (the
    * training sums' own device), the per-cell sum of squared
    * coordinate deltas a pure long sum (Math.*Exact — an overflow
    * throws) — the exact integers the oracle's per-cell drift CTEs
    * compute. Integer end-to-end, so the engine and the oracle compute
    * the IDENTICAL value and the rebuild decision can sit on an
    * equality-sharp threshold with no FP-associativity risk (the
    * reason the metric is not a double norm). The global gates max
    * this (kmDriftFp2); the per-cell incremental gate filters it
    * (cells past the threshold rebuild, the rest serve stale lists) —
    * ONE arithmetic definition for both regimes, O(KmCells × Dim)
    * driver work over the driver-held tables, no Spark job.
    */
  private[graft] def kmDriftPerCell(a: KmCents, b: KmCents): Seq[(Long, Long)] = {
    val bm = b.toMap
    a.flatMap { case (k, x) =>
      bm.get(k).map { y =>
        k -> (0 until Dim).foldLeft(0L) { (acc, i) =>
          val dd = Math.subtractExact(kmFixed(x(i)), kmFixed(y(i)))
          Math.addExact(acc, Math.multiplyExact(dd, dd))
        }
      }
    }
  }

  private[graft] def kmDriftFp2(a: KmCents, b: KmCents): Long =
    kmDriftPerCell(a, b).map(_._2).max

  /** Drift threshold for the online IVF gate's epoch rebuild, in
    * squared fixed-point units: rebuild when some cell's centroid has
    * moved more than 0.25 in L2 since the lists were last built —
    * (0.25·2²⁴)² ≈ 1.76e13 in the integer metric. Chosen from the
    * measured decision curve (sf0.01, KmTrainOnly stepped
    * batch-for-batch along the gate's own MacQueen trajectory, drift
    * taken between the quantizer at batch r and each earlier one;
    * d2 = max-cell squared movement):
    *   d(1,0)=4.51e13  d(2,1)=1.65e13  d(3,1)=2.09e13  d(3,2)=4.48e12
    * so the recurrence rebuilds at batch 1 (the first step's jump
    * while the cumulative state is thin), SKIPS batch 2 (movement
    * under threshold — served from the generation-1 lists), and
    * rebuilds at batch 3 (drift vs the stale generation ACCUMULATED
    * past the gate — the exact production trigger). Both branches,
    * including the accumulation path, are exercised on the gate
    * corpus; VectorSpec pins the mixed sequence and the recall cost
    * of the stale epoch (0.5567 vs 0.5633 always-rebuild — 2 of 300
    * brute pairs for one skipped rebuild).
    *
    * The knob's scale behavior runs the right way by construction:
    * per-batch centroid movement SHRINKS as the cumulative mass grows
    * (MacQueen's 1/n step size), so the rebuild cadence drops with
    * corpus size — measured sequences 0,1,3 at sf0.001 and sf0.01
    * but 0 alone at sf0.1 (max drift 5.3e12 < threshold: every batch
    * after the initial build served from the generation-0 lists,
    * recall 0.6233 vs the always-rebuild twin's 0.5867 — staleness
    * cost ZERO on this trajectory). At 100 TB that is the production
    * protocol: one index build amortized over the whole epoch's
    * traffic, re-assignment work sub-linear in generation count —
    * measured (SCALING_r16): the drift gate grows 0.94× under 10×
    * data (it does LESS re-assignment work at the larger scale,
    * where every rebuild is skipped) vs the always-rebuild twin's
    * 1.22×.
    *
    * End-to-end sensitivity on the COMPOSED persisted-refresh gate
    * (KmIvfGenerations over the raw codec's KmGenStore stepped at
    * `thr` over the four staged batches, sf0.01, recall@3 vs
    * arrivedBruteTopk, the exact brute over the arrived corpus): a
    * two-point
    * sweep around the registered value —
    *   thr/4  (0.125 L2): rebuilds 0,1,2,3  recall 0.5700
    *   thr    (0.25  L2): rebuilds 0,1,3    recall 0.5500
    *   thr·4  (0.5   L2): rebuilds 0        recall 0.6033
    * Rebuild count moves 4 → 3 → 1 across the sweep while recall
    * stays inside the ±0.05 staleness band (the loosest setting is
    * even highest on this trajectory — the same stale-generation
    * effect the sf0.1 drift measurement showed), so the knob buys
    * index-build work with no measurable recall price on this
    * corpus; the registered 0.25 keeps the mixed rebuild/skip/
    * accumulate sequence exercised on the gate fixture. Cadence
    * still drops with scale at every sweep point (sf0.1: rebuilds
    * 0,1 / 0 / 0 across the three thresholds, recall 0.58/0.57/0.57).
    */
  private[graft] val KmDriftRebuild: Long = {
    val eps = 0.25
    val s = eps * CentScale.toDouble
    (s * s).toLong
  }

  /** SemDeDup with the pair scan's CELL COVERAGE as a knob (the
    * paper's "multiple assignments" mitigation for cluster-boundary
    * loss, Abbas et al. 2303.09540): membership and
    * the dominance key stay PRIMARY-cell (cent_sim is the crn=1
    * similarity, output identical in shape to dedup_semdedup), but
    * each vector's pair scan additionally probes its top-`nprobe`
    * cells, so a near-copy whose perturbation flipped its nearest
    * centroid is still paired with its original (the planted-fixture
    * 19/20 → 20/20 — VectorSpec). Devices:
    *  - probe lists as the label quantizer's per-row rank
    *    (Quantizer.ranked — no window, no shuffle, the same tie-break
    *    as the oracle's ranked_cells; at nprobe=1 the probe list IS
    *    the primary assignment and the scan reduces to the paper's
    *    base case, spec-pinned against the registered query);
    *  - candidate pairs from probe-side × primary-side on cell — an
    *    ordered pair may appear in ONE orientation only (x probes y's
    *    primary cell but not vice versa), so the dominated member is
    *    selected per pair (the larger (cdot, vec_id) key), which is
    *    orientation-independent.
    * Scale shape: per-vector scan cost ×nprobe (the serving NProbe
    * trade, now on the curation face), per-cell quadratic bound
    * unchanged at (n/k)·(nprobe·n/k), still ONE shuffle keyed by cell
    * against the cell-partitioned store.
    */
  private[graft] def semdedupKept(s: SparkSession, d: String,
                                  nprobe: Int = 1): DataFrame = {
    val e = Tables.embeddingsSpread(s, d)
    val q = Quantizer.labelMeans(s, d)
    val assigned = q.assignedWithDot(e).localCheckpoint()
    val probes = q.ranked(e, col("embedding"), nprobe)
      .select(col("vec_id").as("a"), explode(col("cells")).as("p"))
      .select(col("a"), col("p.cell").as("cell"))
    val aSide = probes.join(
      assigned.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("cdot").as("ca")), "a")
    val dropped = aSide.join(assigned.select(col("cell"),
        col("vec_id").as("b"), col("embedding").as("eb"),
        col("cdot").as("cb")), Seq("cell"))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", dot(col("ea"), col("eb")))
      .filter(col("cos") >= DedupCos)
      .select(when(struct(col("ca"), col("a")) < struct(col("cb"), col("b")),
        col("b")).otherwise(col("a")).as("vec_id"))
      .distinct()
    semdedupKeep(assigned, dropped)
  }

  /** SemDeDup under quantizer `q` — dedup_semdedup (label cells) and
    * dedup_semdedup_kmeans / _sampled (Lloyd cells), one decision body:
    * the assignment with its centroid dot (checkpointed: both self-join
    * sides and the output read it), a within-cell pair scan at
    * DedupCos, and the MORE-prototypical member of each near-dup pair
    * dropped ((cdot, vec_id) dominance — keep-least-prototypical).
    */
  private[graft] def semdedup(s: SparkSession, d: String, q: Quantizer): DataFrame = {
    val assigned = q.assignedWithDot(Tables.embeddingsSpread(s, d))
      .localCheckpoint()
    val dropped = assigned.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("ea"), col("cdot").as("ca"))
      .join(assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("cdot").as("cb")), Seq("cell"))
      .filter(col("a") =!= col("b"))
      .withColumn("cos", dot(col("ea"), col("eb")))
      .filter(col("cos") >= DedupCos)
      .filter(struct(col("ca"), col("a")) < struct(col("cb"), col("b")))
      .select(col("b").as("vec_id")).distinct()
    semdedupKeep(assigned, dropped)
  }

  /** (vec_id, cell, cent_sim, kept) for every assigned vector, kept = 0
    * iff it is among the `dropped` ids.
    */
  private def semdedupKeep(assigned: DataFrame, dropped: DataFrame): DataFrame =
    assigned
      .join(dropped.withColumn("is_drop", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("cdot"), 6).as("cent_sim"),
        when(col("is_drop").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))

  /** 64-bit random-hyperplane signature (vector SimHash). */
  private def sig(v: Column): Column = VectorFunctions.hyperplaneSig(v, W)

  /** 16-bit band `b` (0..3) of a signature column. */
  private def band(b: Int, s: Column): Column =
    shiftright(s, b * BandBits).bitwiseAND(lit((1 << BandBits) - 1))

  /** The classic LSH-table layout: one row per (item, band index, band
    * value) — `Bands`× the item count, three narrow columns. All band
    * lookups become a SINGLE equi-join on (band, value) instead of one
    * join per band, which is both the fewest-stages plan here and the
    * layout an LSH index table would be stored in at 100 TB.
    */
  private def lshTable(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("sg", sig(col("embedding")))
      .select(col("vec_id"),
        posexplode(array((0 until Bands).map(b => band(b, col("sg"))): _*))
          .as(Seq("bnd", "bval")))

  /** (vec_id, sub_id, sq): int8-quantized subvectors, one row per
    * (vector, PQ subspace) — shared by vec_pq_codes and the ADC search.
    */
  private[graft] def pqSubs(s: SparkSession, d: String): DataFrame =
    pqSubsOf(Tables.embeddingsSpread(s, d))

  /** pqSubs over an arbitrary (vec_id, embedding) frame — the
    * streaming code-store ingest quantizes ARRIVING vectors with the
    * identical arithmetic (one definition, so the packed artifact can
    * never drift from the batch face's codes).
    */
  private[graft] def pqSubsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        aggregate(col("embedding"), lit(0.0),
          (a, x) => greatest(a, abs(x.cast("double")))).as("scale"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub_id"),
        col("embedding"), col("scale"))
      .select(col("vec_id"), col("sub_id"),
        transform(
          slice(col("embedding"), col("sub_id") * PqSub + 1, lit(PqSub)),
          v => when(col("scale") > 0.0,
            floor(v.cast("double") / col("scale") * lit(127.0) + lit(0.5))
              .cast("long")).otherwise(lit(0L))).as("sq"))

  /** The deterministic seed codebook (first `k` vectors' subvectors).
    * `k` is the CODEBOOK-SIZE knob (default PqK = 16): the family's
    * recall is bound by codebook size, not training convergence (the
    * Lloyd-rounds measurement at PqRounds), so k is where a production
    * deployment buys recall — real PQ systems train k = 256 per
    * subspace offline. VectorSpec measures recall@3 at k = 16 vs 64
    * on the gate corpus; vec_pq_codes / ann_pq_adc_topk register the
    * k = 16 default (the compression story) while ann_ivfpq_topk
    * registers k = IvfPqK = 128 (the measured-recall geometry) — the
    * oracle CTEs are generated from the same constants.
    */
  private[graft] def pqSeedCodebook(subs: DataFrame, k: Int = PqK): DataFrame =
    subs.filter(col("vec_id") < k)
      .select(col("vec_id").as("code_id"), col("sub_id"), col("sq").as("cq"))

  /** Lloyd-trained codebook: `rounds` refinement rounds over the seed
    * codebook — each round assigns every subvector to its nearest
    * codeword, then recomputes each codeword as the integer-floored
    * per-dimension mean of its members. All exact: the mean floors via
    * FLOOR(double-sum / n) on BOTH engines (long `div` truncates
    * toward zero while DuckDB `//` floors, so negative sums would
    * diverge under native integer division — the double detour is
    * exact for these magnitudes and floors identically).
    * EMPTY CODEWORDS ARE PRESERVED: a codeword that attracts no
    * members (possible from round 2 on — the updated codebook no
    * longer self-assigns its seeds at distance 0 — and in round 1 iff
    * two seed subvectors are identical in a subspace) keeps its
    * previous centroid via the left-join + coalesce, so the codebook
    * shape is PqM×PqK invariant at any round count. Each round's
    * PqM×k-row codebook (128 rows at the k = 16 default, 1024 at
    * IVFADC's k = 128) localCheckpoints — plan depth stays linear in
    * `rounds` and the corpus-side assignment subtree is never
    * re-derived transitively. Measured on the shipped corpus: one
    * round drops total assigned distortion ~18%; VectorSpec pins
    * non-increase per round through rounds=3.
    */
  private[graft] def pqCodebook(subs: DataFrame,
                                rounds: Int = PqRounds,
                                k: Int = PqK): DataFrame = {
    var cb = pqSeedCodebook(subs, k)
    for (_ <- 1 to rounds) {
      // the argmin assignment keeps sq on the row, so the member means
      // read it in place — no join-back against `subs` (two exchanges
      // per round gone; row set identical by construction). The means
      // are PqSub bounded-state sum columns over the member rows (the
      // kmCentroidSeq device) instead of a posexplode + two chained
      // groupBys — per-group state is 8 longs + a count, no ×PqSub row
      // blow-up, one aggregation instead of two. Arithmetic unchanged:
      // c_p = FLOOR(double(Σ sq[p]) / n), n = member count (each member
      // contributed exactly one row per pos before), array in pos order.
      val means = pqAssignWithSq(subs, cb)
        .select(col("sub_id"), col("code").as("code_id"), col("sq"))
        .groupBy(col("sub_id"), col("code_id"))
        .agg(count(lit(1)).as("n"),
          (0 until PqSub).map(p =>
            sum(element_at(col("sq"), p + 1)).as(s"s$p")): _*)
        .select(col("sub_id"), col("code_id"),
          array((0 until PqSub).map(p =>
            floor(col(s"s$p").cast("double") / col("n")).cast("long")): _*)
            .as("mq"))
      cb = cb.select(col("sub_id"), col("code_id"), col("cq").as("prev_cq"))
        .join(means, Seq("sub_id", "code_id"), "left")
        .select(col("sub_id"), col("code_id"),
          coalesce(col("mq"), col("prev_cq")).as("cq"))
        .localCheckpoint()
    }
    cb
  }

  /** Exact integer subspace L2² — native codegen'd loop
    * (VectorFunctions.longL2); integer addition is associative, so it
    * mirrors the oracle's list_reduce fold exactly whatever the
    * accumulation order. Was a zip_with + aggregate HOF — swapped r11
    * for the hot path (see LongArrayL2's doc).
    */
  private[graft] def pqL2(x: Column, y: Column): Column =
    VectorFunctions.longL2(x, y)

  /** Nearest-codeword assignment: (vec_id, sub_id, code, dist), ties
    * to the smaller code id. Bounded-state min_by on the
    * (dist, code_id) order struct — the ivf max_by device: partial
    * aggregation collapses the ×k candidate rows map-side and nothing
    * is ever sorted (the previous ranked window shuffled AND sorted
    * corpus×PqM×k rows, which at the k=128 registered IVFADC geometry
    * was the query's hot spot — swap measured 10.5 → 6.5 s at sf0.1;
    * per-group state is one struct regardless of codebook size). The
    * (dist, code_id) struct IS the window's (dist ASC, code_id ASC)
    * tie-break, so assignments are identical (oracle unchanged,
    * spec-pinned by every PQ gate).
    */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    pqAssignWithSq(subs, cb)
      .select(col("vec_id"), col("sub_id"), col("code"), col("dist"))

  /** pqAssign with the input subvector RIDING ALONG: because the argmin
    * form keeps each (vector, subspace) row intact (no explode, no
    * aggregate), the assignment can carry `sq` through for free — the
    * codebook trainer's means step reads it directly instead of joining
    * the assignment back against `subs` on (vec_id, sub_id), which cost
    * two exchanges per Lloyd round (r19 profile: the join-back was the
    * new hot stage after the argmin landed, 1.2 s of shuffle write).
    */
  private def pqAssignWithSq(subs: DataFrame, cb: DataFrame): DataFrame = {
    // Codebook collapsed to ONE row per subspace (array of (code_id, cq)
    // structs — dictionary-sized at any corpus scale), so the broadcast
    // join multiplies nothing: each (vector, subspace) row stays one row
    // and the native argmin loop (PqCodebookArgmin) scans the k codewords
    // inside WholeStageCodegen. Replaces the ×k join-explode + min_by
    // hash aggregate — identical integer L2 and (dist, code_id)
    // tie-break (the argmin's comparator IS min_by's struct order, so
    // collect_list's arrival order is immaterial; the array_sort is for
    // plan determinism), one fewer Exchange, no corpus×PqM×k
    // intermediate (r19 profile: the two pqAssign stages were 0.96 s +
    // 0.77 s of ann_ivfpq_topk's 6 s wall at k = 128).
    val cws = cb.groupBy(col("sub_id"))
      .agg(array_sort(collect_list(struct(col("code_id"), col("cq"))))
        .as("cws"))
    subs.join(broadcast(cws), "sub_id")
      .select(col("vec_id"), col("sub_id"), col("sq"),
        VectorFunctions.pqArgmin(col("sq"), col("cws")).as("m"))
      .select(col("vec_id"), col("sub_id"), col("sq"),
        col("m.code").as("code"), col("m.dist").as("dist"))
  }

  // ---- Unsupervised coarse quantizer: Lloyd k-means ----
  // (vec_kmeans_assign / ann_ivf_kmeans_topk)
  //
  // The registered IVF family derives its cells from the corpus's
  // `label` column — supervised cells, which a real corpus rarely has.
  // The published protocol (Lloyd 1982; FAISS trains every coarse
  // quantizer this way — Clustering in faiss/Clustering.cpp) is
  // k-means over the vectors themselves. This face removes the label
  // dependency: deterministic seed (the first KmCells vectors), then
  // KmRounds Lloyd rounds of nearest-centroid assignment (exact
  // index-ordered double L2²) and integer-exact mean recomputation
  // (the CentScale fixed-point device — order-independent sums, so
  // the trained centroids hash-match the oracle's).
  //
  // Scale shape: each round is ONE corpus scan (narrow crossJoin with
  // the broadcast 10-row centroid table, bounded-state min_by — one
  // row per vector survives to the shuffle) plus a 10-group × 64-col
  // mean aggregate with map-side partials. T rounds = T scans; the
  // 100 TB shape — train on a deterministic SAMPLE (FAISS caps at
  // max_points_per_centroid ≈ 256 training points per cell), assign
  // the full corpus once — is IMPLEMENTED as the `sampled` knob
  // (kmTrainSample; registered face ann_ivf_kmeans_sampled_topk,
  // measured sample-vs-full band at its doc), and the streaming
  // regime — mergeable per-cell integer state updating the frozen
  // quantizer one round per drain — as stream_kmeans_update
  // (kmStreamSums/kmStreamUpdateFinish).

  /** k-means cell count — matches the label-cell geometry (10 cells at
    * every SF) so the trained quantizer's recall is directly comparable
    * to the supervised label-mean cells at the same NProbe pruning
    * fraction.
    *
    * k is the SemDeDup SCALE knob (the paper's protocol: k grows with
    * the corpus to hold cell width — and so the per-cell (n/k)²
    * quadratic — constant), and its scale effect is MEASURED, not
    * argued (VectorSpec "KmCells is the SemDeDup scale knob"):
    * training at k = 32 on the sf0.01 corpus collapses the within-cell
    * pair volume 12 363 → 3 931 (≈ n²/2k as
    * the near-balanced bound predicts) and moves kept members 313 →
    * 385 of 500 — scan cost and dedup aggressiveness trade exactly as
    * the paper states. Serving side at the fixed NProbe = 3, recall@3
    * × |brute| measures 190 → 165 of 300 — a 13% recall drop for a
    * 3.2× smaller probed fraction (finer cells track the geometry
    * better, so recall falls far slower than the scan shrinks — the
    * reason growing k with the corpus is affordable). The registered
    * k stays 10 (the label-cell comparability point); a production
    * corpus sizes k to hold n/k constant and pays the same
    * semdedup body per cell.
    */
  private[graft] val KmCells = 10

  /** Lloyd rounds for the coarse quantizer. Measured on the sf0.01
    * corpus (kmDistortionOf over each kmCentroidTables round;
    * VectorSpec pins non-increase through
    * rounds = 3): total assigned distortion falls 791.5 (seed) →
    * 466.0 (r1) → 461.8 (r2) → 459.7 (r3) — the knee is at 1-2
    * rounds — and recall@3 vs brute at the family's pinned NProbe=3
    * measures 0.633 for the trained cells vs 0.533 for the
    * supervised label cells (ann_ivf_topk) at the IDENTICAL pruning
    * fraction: the trained quantizer BEATS the labels it replaces,
    * because Lloyd cells follow the embedding geometry the synthetic
    * labels only loosely track. 2 rounds is the registered point.
    * The curve REPRODUCES at 10× the data (sf0.1: distortion 3215.8 →
    * 1902.2 → 1894.9 → 1890.8, same rounds-1-2 knee; recall 0.623 vs
    * the label cells' 0.540) — the knob is not a gate-corpus artifact.
    */
  private[graft] val KmRounds = 2

  /** Seeding protocol for the coarse quantizer — "first" (the first
    * KmCells vectors, the pqSeedCodebook device) or "farthest"
    * (deterministic Gonzalez farthest-point traversal, kmSeedFarthest).
    *
    * MEASURED head-to-head at equal rounds (kmDistortionOf per round
    * and ivfTopk recall@3 vs brute for each seed, KmRounds = 2,
    * both trainers, both gate scales):
    *
    *   sf0.01  full:    dist 461.8 first / 461.3 farthest; recall@3
    *                    0.633 first / 0.613 farthest
    *   sf0.01  sampled: dist 467.9 / 467.8; recall 0.610 / 0.547
    *   sf0.1   full:    dist 1894.9 / 1893.3; recall 0.623 / 0.553
    *   sf0.1   sampled: dist 1925.1 / 1929.7; recall 0.623 / 0.583
    *
    * Farthest-point buys ≤ 0.1 % distortion and LOSES 2-7 recall
    * points in every regime at both scales — on a corpus with no
    * separated cluster structure (unit-norm synthetic embeddings, max
    * pairwise cosine ≈ 0.46) the outlier-chasing seed walk starts
    * Lloyd from the hull's extremes and the serving probe lists track
    * the geometry slightly worse, while first-K starts from typical
    * density. The raw-vs-residual precedent applies: the delta runs
    * AGAINST the fancier protocol, so first-K stays registered; the
    * farthest path remains a tested knob (VectorSpec pins its training
    * contract) for corpora where cluster separation makes it pay.
    */
  private[graft] val KmSeed = "first"

  /** SIZE-TARGETED training sample — the FAISS protocol implemented
    * faithfully (a constant FRACTION would still scan O(corpus) per
    * Lloyd round; FAISS's
    * max_points_per_centroid caps the training set at an ABSOLUTE
    * size, making training O(1) in corpus size): production trains
    * the coarse quantizer on a subsample capped at a fixed per-cell
    * point budget (faiss/Clustering.cpp subsamples to
    * max_points_per_centroid × k before any Lloyd round), then
    * assigns the full corpus ONCE.
    *
    * KmTrainPerCell is that budget. FAISS's default is 256; the
    * registered value is 25 so the protocol is EXERCISED at the gate
    * corpora (500–2000 vectors — a 2560-point cap there would derive
    * modulus 1 everywhere and silently degenerate to full training,
    * the mirror image of the constant-fraction seam this fixes; FAISS
    * itself trains on everything when the corpus is under the cap).
    * A production corpus sets 256 and the same arithmetic holds.
    *
    * The modulus is DERIVED FROM THE CORPUS SIZE, lazily: m =
    * max(1, ceil(n / (KmTrainPerCell·k))) as a one-row aggregate
    * crossJoined broadcast (never a driver-side collect; the oracle
    * mirrors it as a scalar subquery with the identical integer
    * ceil-division), and the sample keeps every vec_id whose
    * Portable-LCG high-bit bucket ≡ 0 (mod m) — membership a pure
    * function of (id, corpus size), identical in both engines, no
    * shuffle, no RNG state. The Lloyd rounds then scan ONLY the
    * ~KmTrainPerCell·k-point sample whatever the corpus — at the
    * gate SFs the training set is ~250 points at sf0.001, sf0.01 AND
    * sf0.1 (moduli 2/2/8), so measured training growth under 10×
    * data is ~1.0× (SCALING_r15) — and the one full-corpus pass left
    * is the final assignment every IVF consumer needs anyway.
    * Recall band: see the ann_ivf_kmeans_sampled_topk query doc;
    * VectorSpec pins the floor.
    *
    * The production default IS exercised:
    * VectorSpec runs the sampler at perCell = 256 on every gate
    * corpus and pins the documented degeneration — cap 2560 exceeds
    * all three corpora (500/500/2000 vectors), so the derived modulus
    * is 1 and the sample IS the corpus, exactly FAISS's own behavior
    * under its cap — next to the registered 25, which samples 8:1 on
    * sf0.1. The arithmetic is the same `max(1, ceil(n/cap))` either
    * way; only the corpus-to-cap ratio decides.
    */
  private[graft] val KmTrainPerCell = 25

  /** The absolute training-set cap for a cell count — FAISS's
    * max_points_per_centroid × k.
    */
  private def kmTrainCap(cells: Int,
                         perCell: Int = KmTrainPerCell): Long =
    perCell.toLong * cells

  /** The deterministic size-targeted training sample: corpus-derived
    * modulus (one-row broadcast — the lazy corpus-constant device) ×
    * the shared Portable.bucket high-bit slice. floor of the double
    * division is exact here (n + cap − 1 ≪ 2^52).
    */
  private def kmTrainSample(e: DataFrame, cells: Int = KmCells,
                            perCell: Int = KmTrainPerCell): DataFrame = {
    val cap = kmTrainCap(cells, perCell)
    val m = e.agg(greatest(lit(1L),
      floor((count(lit(1)) + lit(cap - 1)) / lit(cap.toDouble)).cast("long"))
      .as("kmod"))
    e.crossJoin(broadcast(m))
      .filter(Portable.bucket(col("vec_id"), col("kmod")) === 0L)
      .select(e.columns.map(col).toSeq: _*)
  }

  /** The training sample for a data dir — kmTrainSample exposed for
    * the VectorSpec size-targeting pin (the sample's size must stay
    * ~KmTrainPerCell·k as the corpus grows).
    */
  private[graft] def kmTrainSampleOf(s: SparkSession, d: String,
                                     perCell: Int = KmTrainPerCell): DataFrame =
    kmTrainSample(Tables.embeddingsSpread(s, d), perCell = perCell)

  /** Oracle twin of [[kmTrainSample]]: the same ceil-division modulus
    * as a scalar subquery (BIGINT `//` — no float), the same bucket.
    */
  private def kmTrainWhereSql(cells: Int = KmCells): String = {
    val cap = kmTrainCap(cells)
    Portable.bucketSqlExpr("vec_id",
      s"SELECT GREATEST(1, (COUNT(*) + ${cap - 1}) // $cap) FROM embeddings") +
      " = 0"
  }

  /** Deterministic seed: the first `cells` vectors widened to double
    * (the pqSeedCodebook device — no RNG, both engines pick the same
    * rows; seeds are `cells` point reads of the full corpus whatever
    * the training set, so the sampled face shares the same km0),
    * collected once into the driver-held table the Lloyd rounds
    * update.
    */
  private def kmSeed(e: DataFrame, cells: Int = KmCells): KmCents =
    kmCentsOf(e.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("carr")))

  /** Deterministic farthest-point seed (Gonzalez 1985) — the MEASURED
    * alternative to first-K: seed 0 is
    * the training row with the smallest vec_id; each next seed is the
    * training point maximizing its min L2² to the chosen set, ties
    * broken by vec_id ASC — no RNG anywhere, so the traversal is a
    * pure function of the training set. Each step is ONE scan of the
    * training frame against the (≤ cells)-row broadcast seed table
    * (bounded-state min per vec_id, then a global top-1 —
    * TakeOrderedAndProject — collected as the next driver-held seed
    * row), so seeding costs
    * (cells−1) training-set scans — O(sample) under the sampled
    * trainer, the regime production would seed in (FAISS seeds on the
    * subsample too).
    *
    * MEASURED vs first-K at equal rounds (the KmSeed grid): see the
    * KmSeed doc below for the recorded numbers and the registered
    * choice.
    */
  private def kmSeedFarthest(train: DataFrame,
                             cells: Int = KmCells): KmCents = {
    var seeds = kmCentsOf(train.orderBy(col("vec_id")).limit(1)
      .select(lit(0L).as("cell"),
        transform(col("embedding"), v => v.cast("double")).as("carr")))
    for (j <- 1 until cells) {
      seeds = seeds ++ kmCentsOf(train
        .crossJoin(broadcast(kmCentsDf(train.sparkSession, seeds)
          .select(col("carr").as("sarr"))))
        .withColumn("sd", kmL2(col("sarr"), col("embedding")))
        .groupBy(col("vec_id"))
        .agg(min(col("sd")).as("mind"),
          min_by(col("embedding"), col("sd")).as("emb"))
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(1)
        .select(lit(j.toLong).as("cell"),
          transform(col("emb"), v => v.cast("double")).as("carr")))
    }
    seeds
  }

  /** Index-ordered exact L2²: left fold of (c_i − (double)v_i)² —
    * deterministic IEEE doubles in a fixed order, mirrored term-for-
    * term by the oracle's list_reduce (the cdot device, squared).
    */
  private def kmL2(c: Column, v: Column): Column =
    VectorFunctions.l2DF(c, v)

  /** Every round's centroid table from ONE training run — element r is
    * the Lloyd quantizer after r rounds (element 0 the seed): `rounds`
    * rounds of assign → integer-exact per-dimension means. EMPTY CELLS
    * KEEP their previous centroid (kmCumCentroids), so the table is
    * `cells` rows at any round count. The loop body lives only here;
    * Quantizer.lloyd takes `.last`, and the curve consumers (the
    * VectorSpec training contracts) score each table without
    * re-running earlier rounds per point.
    */
  private def kmCentroidSeq(e: DataFrame, rounds: Int,
                            sampled: Boolean = false,
                            cells: Int = KmCells,
                            seed: String = KmSeed): Seq[KmCents] = {
    // `sampled` trains on the deterministic subsample (FAISS's
    // max_points_per_centroid protocol — the KmTrainPerCell doc); the
    // first-K seed stays the full corpus's first `cells` rows (point
    // reads) and CONSUMERS still assign the full corpus — only the
    // per-round training scans shrink. The farthest-point seed walks
    // the TRAINING set (the set FAISS seeds on).
    require(seed == "first" || seed == "farthest",
      s"unknown km seed protocol '$seed' (first | farthest)")
    val train = if (sampled) kmTrainSample(e, cells) else e
    val seeds =
      if (seed == "farthest") kmSeedFarthest(train, cells)
      else kmSeed(e, cells)
    // one round = one collect() of the ≤ cells-group integer sums
    (1 to rounds).scanLeft(seeds) { (cents, _) =>
      kmCumCentroids(cents,
        kmAssignedSums(Quantizer.trained(e.sparkSession, cents).assigned(train)))
    }
  }

  /** The per-round Lloyd quantizers for a data dir — ONE training run
    * (element r = the quantizer after r rounds), exposed for the
    * VectorSpec training contracts (distortion non-increase, shape
    * invariance) and the KmRounds/KmSeed measurements.
    */
  private[graft] def kmCentroidTables(s: SparkSession, d: String,
                                      rounds: Int,
                                      sampled: Boolean = false,
                                      cells: Int = KmCells,
                                      seed: String = KmSeed): Seq[Quantizer] =
    kmCentroidSeq(Tables.embeddingsSpread(s, d), rounds, sampled, cells, seed)
      .map(Quantizer.trained(s, _))

  /** Total assigned distortion (Σ per-vector min L2²) under a Lloyd
    * quantizer — the Lloyd objective, for the non-increase contracts.
    */
  private[graft] def kmDistortionOf(s: SparkSession, d: String,
                                    q: Quantizer): DataFrame =
    q.scored(Tables.embeddingsSpread(s, d))
      .groupBy(col("vec_id"))
      .agg(min(col("key")).as("kd"))
      .agg(sum(col("kd")).as("distortion"))

  /** Exact brute-force cosine top-3 of batch `r`'s queries over the
    * ARRIVED corpus (vec_id % nb <= r) — the measurement baseline for
    * the persisted-refresh gate (the store cannot contain vectors
    * that have not arrived), ONE definition for the KmDriftRebuild
    * threshold sweep and VectorSpec's recall floors.
    */
  private[graft] def arrivedBruteTopk(s: SparkSession, d: String,
                                      r: Int, nb: Int): DataFrame = {
    val e = Tables.embeddingsSpread(s, d).filter(col("vec_id") % nb <= r)
    val q = e.filter(col("vec_id") < NQueries && col("vec_id") % nb === r)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("vec_id").as("nn_id"))
  }

  /** dedup_semdedup_kmeans's oracle for either training regime: the
    * Lloyd chain (full- or sample-trained via kmCtesSql), assignment
    * at crn = 1, trained-centroid prototypicality, and the shared
    * sdropped / kept tail — one definition, the regimes differing
    * only in the training CTEs' input set.
    */
  private def semdedupKmeansSql(sampled: Boolean): String = s"""
      WITH ${kmCtesSql(sampled = sampled)},
      assigned AS MATERIALIZED (
        SELECT r.vec_id, r.kcell AS cell,
               list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}),
                 i -> c.karr[i] * CAST(e.embedding[i] AS DOUBLE))),
                 (a, x) -> a + x) AS adot,
               e.embedding
        FROM kmranked r
        JOIN kmc c ON c.kcell = r.kcell
        JOIN embeddings e ON e.vec_id = r.vec_id
        WHERE r.crn = 1),
      sdropped AS (
        SELECT DISTINCT b.vec_id AS vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id != b.vec_id
          AND (a.adot, a.vec_id) < (b.adot, b.vec_id)
        WHERE ${dotSql("a.embedding", "b.embedding")} >= $DedupCos)
      SELECT s.vec_id, s.cell, ROUND(s.adot, 6) AS cent_sim,
             CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM assigned s LEFT JOIN sdropped d ON d.vec_id = s.vec_id"""

  /** Oracle twin of ivfTopk on the Lloyd cells — the assignment/probe/
    * tail SQL shared by both training regimes' oracles (only
    * kmCtesSql's `sampled` differs).
    */
  private def kmIvfTopkSql(sampled: Boolean): String = s"""
      WITH ${kmCtesSql(sampled = sampled)},
      assigned AS (SELECT vec_id AS nn_id, kcell AS cell FROM kmranked WHERE crn = 1),
      probed AS (SELECT vec_id AS qid, kcell AS cell FROM kmranked
                 WHERE vec_id < $NQueries AND crn <= $NProbe),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
      $ivfTopkTailSql"""

  /** Index-ordered centroid-dot: fold of carr[i] * (double)v[i] —
    * engine-portable (mirrored in the oracle's list_reduce).
    */
  private def cdot(c: Column, v: Column): Column =
    VectorFunctions.dotDF(c, v)

  /** Subspace-quantize an array&lt;double&gt; column: per-row symmetric
    * int8 scale (max |x|), PqM slices, floor-half-up — the identical
    * arithmetic as pqSubs but over residual vectors keyed by arbitrary
    * id columns (pqSubs keys by vec_id over raw float embeddings; the
    * residual path keys database rows by vec_id and query LUT rows by
    * (qid, cell) — residuals differ per probed cell).
    */
  private def quantizeSubs(df: DataFrame, idCols: Seq[String],
                           vecCol: String): DataFrame = {
    val ids = idCols.map(col)
    df.select(ids :+ col(vecCol).as("r"): _*)
      .withColumn("scale",
        aggregate(col("r"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .select(ids ++ Seq(
        explode(sequence(lit(0), lit(PqM - 1))).as("sub_id"),
        col("r"), col("scale")): _*)
      .select(ids ++ Seq(col("sub_id"),
        transform(
          slice(col("r"), col("sub_id") * PqSub + 1, lit(PqSub)),
          v => when(col("scale") > 0.0,
            floor(v / col("scale") * lit(127.0) + lit(0.5))
              .cast("long")).otherwise(lit(0L))).as("sq")): _*)
  }

  /** The per-query ADC lookup table over a QUERY subvector frame —
    * (qid, sub_id, code, d2) integer distances to every codeword,
    * broadcastable at any corpus size (PqM×k rows per query). ONE
    * definition for the exhaustive face (adcTopk) and the PQ codec's
    * serve, so the parity-critical arithmetic cannot fork.
    */
  private def pqQueryLut(qsubs: DataFrame, cb: DataFrame): DataFrame =
    qsubs.select(col("vec_id").as("qid"), col("sub_id"), col("sq"))
      .join(broadcast(cb), "sub_id")
      .select(col("qid"), col("sub_id"), col("code_id").as("code"),
        pqL2(col("sq"), col("cq")).as("d2"))

  /** Exhaustive ADC top-3 for an arbitrary trained codebook — the
    * query shape ann_pq_adc_topk registers at the default geometry,
    * reused by VectorSpec's codebook-size recall measurement (k is a
    * property of `cb`; nothing here depends on PqK).
    */
  private[graft] def adcTopk(subs: DataFrame, cb: DataFrame): DataFrame = {
    val codes = pqAssign(subs, cb)
      .select(col("vec_id"), col("sub_id"), col("code"))
    val lut = pqQueryLut(subs.filter(col("vec_id") < NQueries), cb)
    codes.join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2")).as("adist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("vec_id").as("nn_id"),
        col("rnk").cast("long").as("rnk"), col("adist"))
  }

  /** Pack a (vec_id, cell, sub_id, code) code table into the persisted
    * store's row form — one array<tinyint> of the PqM codes per
    * vector, ordered by sub_id (posexplode re-derives the sub_id at
    * read). The PQ codec's store rows, so every build, ingest and
    * generation writes one layout.
    * The byte cast is range-guarded: a codebook with
    * k > 128 would silently wrap codes negative and the read-back
    * cast('long') would miss the LUT join — rankings would go wrong
    * with no loud failure at write time. raise_error makes the pack
    * FAIL at write instead of corrupting the persisted artifact;
    * the guard is a codegen'd per-row comparison, free in the plan.
    */
  private def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => {
          val c = x.getField("code")
          when(c > lit(127) || c < lit(0),
            raise_error(concat(
              lit("PQ code outside tinyint range at pack time "),
              lit("(codebook k > 128?): "), c.cast("string"))).cast("byte"))
            .otherwise(c.cast("byte"))
        }).as("codes"))

  /** The IVFADC serving tail over a cell-tagged code table: probed-cell
    * prune BEFORE any LUT work, broadcast LUT join on every LUT column
    * but d2 — (qid, sub_id, code), or (qid, cell, sub_id, code) for a
    * residual LUT — keyed integer distance sum, ranked top-`topn` with
    * the (adist, vec_id) tie-break. ONE definition for the PQ codec's
    * in-plan, persisted and refresh faces and the residual face; the
    * registered rows share ivfpqLabelTopkSql verbatim, so the tail's
    * arithmetic and casts must stay byte-identical between them.
    */
  private def adcServeTail(codes: DataFrame, probed: DataFrame,
                           lut: DataFrame, topn: Int = 3): DataFrame =
    codes.join(broadcast(probed), "cell") // cell filter BEFORE the LUT join
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), lut.columns.toSeq.filter(_ != "d2"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2")).as("adist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rnk") <= topn)
      .select(col("qid"), col("vec_id").as("nn_id"),
        col("rnk").cast("long").as("rnk"), col("adist"))

  /** IVFADC+R (Jégou et al. TPAMI'11 §V, "re-ranking with source
    * coding"; FAISS IndexIVFPQR): the ADC scan produces a SHORTLIST of
    * `shortlist` candidates per query by approximate distance, then
    * ONLY those candidates are re-ranked by the EXACT metric (here the
    * deterministic 64-term cosine every exact query uses) and the
    * final top-3 come from the re-ranked order. This is the standard
    * answer to PQ's quantization distortion: the cheap compressed scan
    * bounds the candidate set, the expensive exact distance runs on
    * R·NQueries rows only — at a 10⁹-vector corpus the refine stage is
    * R point-lookups per query against the raw-vector table (the
    * broadcast of the tiny shortlist streams the corpus ONCE through a
    * broadcast hash join; no shuffle keyed on corpus size). Recall is
    * bounded above by the probed-cell recall (refinement can fix WHAT
    * ADC mis-ranked inside the shortlist, never resurrect a vector
    * whose cell was not probed) — the measured lift on the gate corpus
    * is recorded in the registered query's comment and direction-pinned
    * in VectorSpec.
    */
  private[graft] def ivfpqRefineTopk(s: SparkSession, d: String,
                                     k: Int = IvfPqK,
                                     nprobe: Int = NProbe,
                                     shortlist: Int = RefineR): DataFrame = {
    val e = Tables.embeddingsSpread(s, d)
    val short = ivfTopk(s, d, Quantizer.labelMeans(s, d), Codec.pq(s, d, k),
      nprobe, topn = shortlist)
      .select(col("qid"), col("nn_id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nn_id"))
    e.select(col("vec_id").as("nn_id"), col("embedding"))
      .join(broadcast(short), "nn_id") // corpus streamed once, no shuffle
      .join(broadcast(queriesOf(e)), "qid")
      .withColumn("cos", dot(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("nn_id"),
        col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Residual-encoded IVFADC (Jégou et al. TPAMI'11 §IV; FAISS
    * IVFPQ with by_residual=true — the accuracy buy the no-residual
    * comment named): PQ trains on r = x − centroid(cell(x)) instead of
    * raw x, so the codebook's bits encode WITHIN-cell variation — the
    * coarse quantizer already absorbed the between-cell component.
    * Queries mirror it per probed cell: for each of q's NProbe cells,
    * the LUT is built from q − centroid(cell) (a query's residual is
    * cell-dependent, so LUT rows key by (qid, cell, sub, code) —
    * NQueries × NProbe × PqM × k rows, broadcastable at any corpus
    * size; FAISS calls this the per-probe LUT recomputation that
    * by_residual costs at query time).
    * Plan shape is EXACTLY ann_ivfpq_topk's (cell filter before all
    * LUT work, broadcast LUT, keyed sum, ranked top-3); only what the
    * codes encode changes. Exact end to end: residuals are computed in
    * double (float→double widening exact, centroid components exact
    * integer-sum means), quantized by the shared floor-half-up device,
    * distances in integer — engine-portable statement-for-statement.
    * MEASURED OUTCOME (sf0.01 grid in the IvfPqK doc): residual loses
    * to raw at every geometry but k=64/np=5 on THIS corpus — the
    * coarse cells are label-partitions of near-uniform random vectors,
    * so centroids sit near the origin, residuals ≈ the raw vectors,
    * and the per-cell re-quantization only adds noise. by_residual
    * pays when cells capture real spatial structure (actual k-means
    * cells over clustered data); the implementation is kept — with
    * this measurement — as the geometry a production corpus would
    * re-evaluate, and VectorSpec pins the comparison so the trade
    * stays measured, not assumed.
    */
  private[graft] def ivfpqResidualTopk(s: SparkSession, d: String,
                                       q: Quantizer,
                                       k: Int = IvfPqK,
                                       nprobe: Int = NProbe): DataFrame = {
    val e = Tables.embeddingsSpread(s, d)
    // both consumed by TWO subtrees each (cells: rsubs + the codes
    // join; probed: the LUT build + the final cell filter) —
    // checkpoint so the corpus×NCells scoring runs once, not four
    // times (probed is NQueries×nprobe rows, free)
    val cells = q.assigned(e).select(col("vec_id"), col("cell")).localCheckpoint()
    val probed = q.probes(q.scored(e), nprobe).localCheckpoint()
    // database residuals vs each vector's OWN cell centroid
    val rsubs = quantizeSubs(
      e.join(cells, "vec_id")
        .join(broadcast(q.cents), "cell")
        .select(col("vec_id"),
          zip_with(col("embedding"), col("carr"),
            (x, c) => x.cast("double") - c).as("r")),
      Seq("vec_id"), "r").localCheckpoint()
    val cb = pqCodebook(rsubs, k = k)
    val codes = pqAssign(rsubs, cb)
      .select(col("vec_id"), col("sub_id"), col("code"))
      .join(cells, "vec_id")
    // query residuals vs each PROBED cell's centroid → per-cell LUT
    val lut = quantizeSubs(
      probed
        .join(e.select(col("vec_id").as("qid"), col("embedding")), "qid")
        .join(broadcast(q.cents), "cell")
        .select(col("qid"), col("cell"),
          zip_with(col("embedding"), col("carr"),
            (x, c) => x.cast("double") - c).as("r")),
      Seq("qid", "cell"), "r")
      .join(broadcast(cb), "sub_id")
      .select(col("qid"), col("cell"), col("sub_id"),
        col("code_id").as("code"), pqL2(col("sq"), col("cq")).as("d2"))
    adcServeTail(codes, probed, lut)
  }

  /** Multi-probe ANN candidate pairs (qid, nn_id), distinct.
    *
    * Scale shape: the probe table is |queries| × 137 × 4 rows — tiny —
    * and is broadcast; the corpus LSH table is streamed through ONE
    * broadcast hash join with NO shuffle and NO quadratic term.
    * Candidates per query are bounded by the band-ball collision
    * probability (~0.8% of the corpus for random data), asserted
    * sublinear in VectorSpec.
    */
  private[graft] def annCandidates(s: SparkSession, d: String): DataFrame = {
    val e = lshTable(s, d)
    val masks = array(probeMasks.map(m => lit(m)): _*)
    val probes = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("bnd").as("qbnd"),
        col("bval").as("qbval"))
      .select(col("qid"), col("qbnd"), explode(masks).as("m"), col("qbval"))
      .select(col("qid"), col("qbnd"),
        col("qbval").bitwiseXOR(col("m")).as("probe"))
    e.join(broadcast(probes),
        col("qbnd") === col("bnd") && col("probe") === col("bval") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"))
      .distinct()
  }

  // ---- Oracle-side SQL generators (same constants, same order) ----

  /** One oracle Lloyd round: distances vs cb{k-1}, ranked assignment,
    * integer-floored per-dim means, and the empty-codeword-preserving
    * left join + COALESCE — mirroring pqCodebook's loop body
    * statement-for-statement.
    */
  private def pqRoundSql(k: Int): String = s"""d$k AS (
        SELECT q.vec_id, q.sub_id, cb${k - 1}.code_id,
               CAST(list_reduce(list_prepend(0, list_transform(range(1, ${PqSub + 1}),
                 i -> (q.sq[i] - cb${k - 1}.cq[i]) * (q.sq[i] - cb${k - 1}.cq[i]))),
                 (a, x) -> a + x) AS BIGINT) AS dist
        FROM q JOIN cb${k - 1} USING (sub_id)),
      a$k AS MATERIALIZED (
        SELECT vec_id, sub_id, code_id FROM (
          SELECT vec_id, sub_id, code_id,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                    ORDER BY dist, code_id) AS rnk
          FROM d$k) r WHERE rnk = 1),
      cbt$k AS (
        SELECT a$k.sub_id, a$k.code_id, i,
               CAST(FLOOR(CAST(SUM(q.sq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM a$k JOIN q USING (vec_id, sub_id),
             (SELECT unnest(range(1, ${PqSub + 1})) AS i) dims$k
        GROUP BY 1, 2, 3),
      cb$k AS MATERIALIZED (
        SELECT p.sub_id, p.code_id, COALESCE(m.cq, p.cq) AS cq
        FROM cb${k - 1} p LEFT JOIN (
          SELECT sub_id, code_id, list(c ORDER BY i) AS cq
          FROM cbt$k GROUP BY 1, 2) m
        ON m.sub_id = p.sub_id AND m.code_id = p.code_id)"""

  /** Shared PQ CTEs: quantized subvectors (q), the `rounds`-times
    * Lloyd-trained codebook (cb), all codeword distances (pqdists),
    * ranked assignment (pqranked) — vec_pq_codes, ann_pq_adc_topk and
    * ann_ivfpq_topk all close over these. `rounds` and `k` must match
    * the Spark side's pqCodebook call (defaults PqRounds / PqK;
    * ann_ivfpq_topk passes k = IvfPqK on both faces).
    */
  private def pqCtesSql(rounds: Int = PqRounds, k: Int = PqK): String = s"""scaled AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings),
      q AS MATERIALIZED (
        SELECT vec_id, sub_id,
               list_transform(range(1, ${PqSub + 1}), i ->
                 CASE WHEN scale > 0
                      THEN CAST(FLOOR(CAST(embedding[sub_id * $PqSub + i] AS DOUBLE)
                                      / scale * 127.0 + 0.5) AS BIGINT)
                      ELSE 0 END) AS sq
        FROM scaled, (SELECT unnest(range(0, $PqM)) AS sub_id) m),
      cb0 AS (SELECT vec_id AS code_id, sub_id, sq AS cq FROM q WHERE vec_id < $k),
      ${(1 to rounds).map(pqRoundSql(_) + ",\n      ").mkString}cb AS (SELECT * FROM cb$rounds),
      pqdists AS (
        SELECT q.vec_id, q.sub_id, cb.code_id,
               CAST(list_reduce(list_prepend(0, list_transform(range(1, ${PqSub + 1}),
                 i -> (q.sq[i] - cb.cq[i]) * (q.sq[i] - cb.cq[i]))),
                 (a, x) -> a + x) AS BIGINT) AS dist
        FROM q JOIN cb USING (sub_id)),
      pqranked AS MATERIALIZED (
        SELECT vec_id, sub_id, code_id, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                  ORDER BY dist, code_id) AS rnk
        FROM pqdists)"""

  /** The oracle L2² distance CTE body against a named centroid CTE —
    * ONE definition of the parity-critical fold, shared by kmRoundSql
    * and kmdist.
    */
  private def kmDistSql(centCte: String,
                        corpus: String = "embeddings"): String = s"""
        SELECT e.vec_id, c.kcell,
               list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}),
                 i -> (c.karr[i] - CAST(e.embedding[i] AS DOUBLE))
                      * (c.karr[i] - CAST(e.embedding[i] AS DOUBLE)))),
                 (a, x) -> a + x) AS kdist
        FROM $corpus e CROSS JOIN $centCte c"""

  /** One oracle Lloyd round for the COARSE quantizer: L2² distances vs
    * km{r-1}, ranked assignment, integer-floored fixed-point means,
    * and the empty-cell-preserving left join + COALESCE — mirroring
    * kmCentroidSeq's loop body statement-for-statement (the pqRoundSql
    * device over full-dimension double vectors).
    */
  private def kmRoundSql(r: Int,
                         train: String = "embeddings"): String = s"""kd$r AS (${kmDistSql(s"km${r - 1}", train)}),
      ka$r AS MATERIALIZED (
        SELECT vec_id, kcell FROM (
          SELECT vec_id, kcell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS rnk
          FROM kd$r) t WHERE rnk = 1),
      kt$r AS (
        SELECT a.kcell, i,
               SUM(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * ${CentScale}.0 + 0.5) AS BIGINT)) AS c,
               COUNT(*) AS n
        FROM ka$r a JOIN $train e USING (vec_id),
             (SELECT unnest(range(1, ${Dim + 1})) AS i) dims$r
        GROUP BY 1, 2),
      km$r AS MATERIALIZED (
        SELECT p.kcell, COALESCE(m.karr, p.karr) AS karr
        FROM km${r - 1} p LEFT JOIN (
          SELECT kcell, list(CAST(c AS DOUBLE) / CAST(n * $CentScale AS DOUBLE) ORDER BY i) AS karr
          FROM kt$r GROUP BY kcell) m
        ON m.kcell = p.kcell)"""

  /** Shared k-means CTEs: seed (km0), the `rounds`-times Lloyd-trained
    * centroid table (kmc), all (vector, cell) distances (kmdist) and
    * the ranked assignment (kmranked) — vec_kmeans_assign and
    * ann_ivf_kmeans_topk close over these. `rounds` must match the
    * Spark side's Quantizer.lloyd call (default KmRounds).
    */
  private def kmCtesSql(rounds: Int = KmRounds,
                        sampled: Boolean = false): String = {
    // `sampled` mirrors the Spark side's kmTrainSample: the Lloyd
    // rounds' distance + mean CTEs read the ktrain subsample; the
    // seed (km0) and the full-corpus assignment (kmdist/kmranked)
    // read embeddings in both modes.
    val train = if (sampled) "ktrain" else "embeddings"
    val trainCte =
      if (sampled) s"""ktrain AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE ${kmTrainWhereSql()}),
      """
      else ""
    s"""km0 AS MATERIALIZED (
        SELECT vec_id AS kcell,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS karr
        FROM embeddings WHERE vec_id < $KmCells),
      $trainCte${(1 to rounds).map(kmRoundSql(_, train) + ",\n      ").mkString}kmc AS (SELECT * FROM km$rounds),
      kmdist AS (${kmDistSql("kmc")}),
      kmranked AS MATERIALIZED (
        SELECT vec_id, kcell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY kdist, kcell) AS crn
        FROM kmdist)"""
  }

  /** Shared IVF coarse-quantizer CTEs (csum → carr → scored_cells →
    * ranked_cells), mirroring Quantizer.labelMeans and its scoring
    * constant-for-constant — ann_ivf_topk and ann_ivfpq_topk close
    * over these and derive their own assignment/probe selections.
    */
  private lazy val ivfCellCtesSql = s"""csum AS (
        SELECT label, COUNT(*) AS n,
               ${(0 until Dim).map(i =>
                 s"SUM(CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * ${CentScale}.0 + 0.5) AS BIGINT)) AS c$i")
                .mkString(",\n               ")}
        FROM embeddings GROUP BY label),
      carr AS (SELECT label AS clabel,
               [${(0 until Dim).map(i =>
                  s"CAST(c$i AS DOUBLE) / CAST(n * $CentScale AS DOUBLE)")
                 .mkString(", ")}] AS carr
               FROM csum),
      scored_cells AS (
        SELECT e.vec_id, c.clabel,
               list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}),
                  i -> c.carr[i] * CAST(e.embedding[i] AS DOUBLE))), (a, x) -> a + x) AS adot
        FROM embeddings e CROSS JOIN carr c),
      ranked_cells AS (
        SELECT vec_id, clabel,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot DESC, clabel) AS crn
        FROM scored_cells)"""

  /** ann_ivf_topk's complete oracle — shared verbatim with the
    * persisted-index face (ann_ivf_persisted_topk serves the same
    * results from the cell-partitioned artifact, so the two rows pin
    * each other: an artifact that drifts from the in-plan assignment
    * hash-mismatches).
    */
  private lazy val ivfLabelTopkSql: String = s"""
      WITH $ivfCellCtesSql,
      assigned AS (SELECT vec_id AS nn_id, clabel AS cell FROM ranked_cells WHERE crn = 1),
      probed AS (SELECT vec_id AS qid, clabel AS cell FROM ranked_cells
                 WHERE vec_id < $NQueries AND crn <= $NProbe),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
      $ivfTopkTailSql"""

  /** ann_ivf_persisted_retain_topk's oracle — the IVF chain with the
    * retention predicate stated on the CORPUS side only (probe lists
    * and queries come from the live table): the serving contract of a
    * store that aged out the RetainDrop cohort.
    */
  private lazy val ivfRetainTopkSql: String = s"""
      WITH $ivfCellCtesSql,
      assigned AS (SELECT vec_id AS nn_id, clabel AS cell FROM ranked_cells
                   WHERE crn = 1 AND vec_id % $RetainMod != $RetainDrop),
      probed AS (SELECT vec_id AS qid, clabel AS cell FROM ranked_cells
                 WHERE vec_id < $NQueries AND crn <= $NProbe),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
      $ivfTopkTailSql"""

  /** Root of the persisted inverted-list stores for a corpus, keyed
    * by the md5 of the dir path (|String.hashCode| would collide
    * across dirs and fold sign). Each invocation writes a
    * FRESH child index dir under this root rather than overwriting in
    * place — an overwrite would delete the part files a previously
    * built (lazy) DataFrame captured at plan time, and two graft JVMs
    * on one host could clobber each other's store mid-scan. A LATEST
    * marker (atomic tmp+rename) names the current child, and the
    * committing writer prunes superseded siblings down to the newest
    * two — the marker's target plus one generation of slack for a
    * still-lazy plan captured by the previous invocation
    * (mtime-globbing could resolve a concurrent run's child, and stale
    * children would accumulate unboundedly between reboots).
    */
  private[graft] def ivfStoreRoot(d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_store_$key"
  }

  /** A fresh child path under a store root — the writer publishes it
    * via ivfStoreCommitLatest once the write completes.
    */
  private[graft] def storeNewChild(root: String): String =
    s"$root/idx_${System.nanoTime()}"

  /** Build a store generation in one write: a new child of `root`
    * holding `rows` clustered by cell (repartition(cell), so each
    * cell's inverted list is exactly one file) and written
    * partitionBy("cell"), then published via the LATEST marker. The
    * one batch store-build verb of the persisted faces; returns the
    * child.
    */
  private[graft] def storeBuild(root: String, rows: DataFrame): String = {
    val child = storeNewChild(root)
    rows.repartition(col("cell")).write.partitionBy("cell").parquet(child)
    ivfStoreCommitLatest(root, child)
    child
  }

  /** Publish `child` as the root's current index: write the LATEST
    * marker atomically (tmp file + rename — readers never observe a
    * torn marker), then best-effort delete superseded idx_/run_/cmp_
    * siblings (cmp_ children a prior compaction left superseded
    * included) beyond the newest two — but ONLY those older than
    * StorePruneAgeMs (the keep-two budget is shared
    * across committers at the per-corpus root, so without the age
    * gate two concurrent JVMs' commits could delete a sibling JVM's
    * just-committed child out from under its still-lazy scan; a
    * recent child is by definition possibly-in-use). Pruning runs
    * AFTER the marker flip, so a crash leaves extra children, never
    * a marker naming a deleted dir.
    */
  private[graft] def ivfStoreCommitLatest(root: String, child: String): Unit = {
    val rootF = new java.io.File(root)
    val tmp = new java.io.File(rootF, s".LATEST_tmp_${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath,
      new java.io.File(child).getName.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(rootF, "LATEST").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val cutoff = System.currentTimeMillis() - StorePruneAgeMs
    Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("idx_") || f.getName.startsWith("run_") ||
          f.getName.startsWith("cmp_")))
      .sortBy(f => scala.util.Try(
        f.getName.dropWhile(!_.isDigit).toLong).getOrElse(0L))
      .dropRight(2)
      .filterNot(_.getName == new java.io.File(child).getName)
      .filter(_.lastModified < cutoff)
      .foreach(deleteRecursively)
  }

  /** Minimum age before a superseded store child is prunable — a
    * bound on how long a committed-then-superseded child's lazy scan
    * can stay live in some JVM (bench reps and specs evaluate within
    * seconds; 15 min is generous slack).
    */
  private val StorePruneAgeMs: Long = 15L * 60 * 1000

  /** Delete `f` and everything under it. A symbolic link is removed,
    * never followed — a staged stream source links to the table it
    * reads.
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** The current index child under a store root — resolved from the
    * LATEST marker the committing writer published (never by mtime,
    * which a concurrent run's child could win). The store
    * PartitioningSpec's pruned-read assertions target this after
    * invoking the registered query.
    */
  private[graft] def storeLatest(rootDir: String): String = {
    val root = new java.io.File(rootDir)
    val marker = new java.io.File(root, "LATEST")
    require(root.isDirectory && marker.isFile,
      s"no persisted index store at $root — run the store-building " +
        "query against this data dir first")
    val child = new java.io.File(root,
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim)
    require(child.isDirectory,
      s"LATEST marker names a missing child ${child.getAbsolutePath}")
    child.getAbsolutePath
  }

  /** Store compaction — the HyDFS `merge` analog for the persisted
    * index stores (the reference's merge rewrites a file's appended
    * blocks into canonical order, dht/dht.go:843-931 — here
    * canonical = ONE clustered file per cell): rewrite the root's CURRENT child with
    * repartition(cell) (collapsing the one-file-per-cell-per-batch
    * accumulation the streaming faces leave), publish the compacted
    * child via the LATEST marker, then DROP every superseded child —
    * the stale generations the refresh gate leaves behind are exactly
    * this call's input. Content-preserving by construction: the same
    * rows, minus the `ingest` bookkeeping column (meaningless once
    * its generation is the only one); PartitioningSpec pins
    * one-file-per-cell, row-set equality, and files-read = NProbe
    * across the call. Like the reference, compaction is a
    * SINGLE-writer operation per store root — concurrent ingest into
    * the child being compacted is the caller's exclusion to provide.
    * Superseded-child cleanup is AGE-GATED by default (an
    * unconditional delete here, unlike ivfStoreCommitLatest's
    * gated prune, could fail a sibling JVM's still-lazy scan over the
    * pre-compaction child mid-read); a caller that OWNS the root —
    * a gate finalizing its instance-private run root, or a
    * single-JVM spec — passes pruneAgeMs = 0 for immediate reclaim.
    */
  private[graft] def ivfStoreCompact(s: SparkSession, root: String,
                                     pruneAgeMs: Long = StorePruneAgeMs): String = {
    val cur = storeLatest(root)
    val rows = s.read.parquet(cur)
    val keep = rows.columns.filterNot(c => c == "ingest" || c == "cell")
    val dir = s"$root/cmp_${System.nanoTime()}"
    rows.select((keep :+ "cell").map(col): _*)
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(dir)
    ivfStoreCommitLatest(root, dir)
    val dirName = new java.io.File(dir).getName
    val cutoff = System.currentTimeMillis() - pruneAgeMs
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != dirName &&
        (f.getName.startsWith("idx_") || f.getName.startsWith("gen_") ||
          f.getName.startsWith("cmp_")))
      .filter(_.lastModified < cutoff)
      .foreach(deleteRecursively)
    dir
  }

  /** PER-CELL store compaction (ivfStoreCompact above rewrites the
    * WHOLE current child every call, which at production cadence is
    * the wrong unit): only cells whose file
    * count exceeds `maxFilesPerCell` rewrite — their rows collapse to
    * ONE clustered file — while cold cells' part files carry over
    * BYTE-IDENTICAL as hard links (no data copied, no rewrite; the
    * reference's merge works per file, not per namespace,
    * /root/reference/dht/dht.go:843-931 — on HDFS/object storage the
    * link is a metadata-level copy/rename, same cost class). A store
    * where no cell crossed the threshold returns the CURRENT child
    * untouched — the no-op fast path that makes per-cell granularity
    * worth having: at production cadence most cells are cold and a
    * compaction pass costs one directory walk. Hot-cell rewrites keep
    * the child's physical partition layout (a synthetic ingest=-1
    * partition absorbs the merged per-batch files where the layout
    * has an ingest level), so mixed hot/cold children stay one
    * consistent partitioned dataset. Same single-writer contract and
    * LATEST publish as the whole-store form.
    */
  private[graft] def ivfStoreCompactCells(s: SparkSession, root: String,
                                          maxFilesPerCell: Int = 1): String = {
    val cur = storeLatest(root)
    val files = storeDataFiles(cur)
    val hot = files
      .groupBy(storeCellOf(cur, _))
      .collect { case (Some(c), fs) if fs.size > maxFilesPerCell => c }
      .toSet
    if (hot.isEmpty) cur
    else storeRewriteCells(s, root, cur, hot, identity, files)
  }

  /** Retention — the lifecycle verb ingest-only stores lack: drop
    * every row NOT satisfying `keep` (a TTL on
    * the ingest partition, a kept-id set, any data predicate), leaving
    * cells that contain no dropped rows PHYSICALLY untouched (hard
    * links, like compaction's cold cells) and rewriting only the
    * affected cells (which thereby also compact). The affected-cell
    * set is a ≤ NCells-value driver decision (the kmDriftFp2 class of
    * control-plane action — never a data materialization); computing
    * it is one predicate-pushdown scan of the store. Post-retention
    * the row set equals the predicate-filtered original and the
    * pruned-read invariant (files read = probed cells) still holds —
    * both spec-pinned. Offline/single-writer like compaction: a
    * replayed ingest batch after a retention pass would resurrect its
    * dropped rows, so retention runs at drain or between ingest runs.
    * Predicate semantics are WHERE-style on both sides of the split:
    * a row is RETAINED iff `keep` evaluates TRUE —
    * the affected-cell scan and the rewrite filter both treat a
    * NULL-evaluating row as dropped, so the published row set equals
    * filter(keep) of the original regardless of which cells the
    * null-evaluating rows co-reside in.
    */
  private[graft] def ivfStoreRetain(s: SparkSession, root: String,
                                    keep: Column): String = {
    val cur = storeLatest(root)
    val keepTrue = coalesce(keep, lit(false))
    val affected = s.read.parquet(cur).filter(!keepTrue)
      .select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) cur
    else storeRewriteCells(s, root, cur, affected, _.filter(keepTrue))
  }

  /** Gate-driven store lifecycle (if compaction and generation
    * pruning only ran when a spec called them, an unattended
    * production run would grow its disk footprint without bound): the
    * refresh gates call this AT DRAIN, before
    * publishing the run, so the run root bounds itself — the current
    * generation compacts per-cell (a no-op walk when the last batch
    * was a rebuild, the common case at scale), and superseded
    * generations beyond ONE of slack are dropped, leaving ≤ 2
    * generation-class children (the compacted/current child plus the
    * newest superseded generation — hard-link sources stay valid
    * either way; the slack generation is for symmetry with the
    * commit-path keep-two budget). Immediate deletion is safe HERE
    * because the run root is instance-private until the gate
    * publishes it (nanoTime-named, created by this instance, and
    * finalize runs BEFORE the publish) — the cross-JVM age gate
    * protects the shared per-corpus roots, not this one.
    */
  private[graft] def ivfStoreFinalize(s: SparkSession, root: String): String = {
    val dir = ivfStoreCompactCells(s, root)
    val dirName = new java.io.File(dir).getName
    val others = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != dirName &&
        (f.getName.startsWith("gen_") || f.getName.startsWith("cmp_")))
    // the one slack child kept is the newest REAL generation — never a
    // stale cmp_ from an earlier finalize (mixed
    // gen_<batchId>/cmp_<nanoTime> numeric sorting would retain the
    // dead cmp_ branch and drop every gen_ hard-link source; harmless
    // on POSIX links but wrong on the HDFS/object-store deployment
    // the design notes target)
    val gens = others.filter(_.getName.startsWith("gen_"))
      .sortBy(f => scala.util.Try(
        f.getName.dropWhile(!_.isDigit).toLong).getOrElse(0L))
    (others.filterNot(_.getName.startsWith("gen_")) ++ gens.dropRight(1))
      .foreach(deleteRecursively)
    dir
  }

  /** All parquet data files under a store child (the streaming-sink
    * metadata dir holds no .parquet-suffixed files, so a plain suffix
    * filter excludes it).
    */
  private def storeDataFiles(cur: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(k =>
        if (k.isDirectory) walk(k) else Seq(k))
    walk(new java.io.File(cur)).filter(_.getName.endsWith(".parquet"))
  }

  /** The cell a data file belongs to, parsed from its cell= path
    * component relative to the child root (works for every layout the
    * stores use: cell=, cell=/ingest=, ingest=/cell=).
    */
  private def storeCellOf(cur: String, f: java.io.File): Option[Int] =
    java.nio.file.Paths.get(cur).relativize(f.toPath).toString
      .split(java.io.File.separatorChar)
      .find(_.startsWith("cell="))
      .flatMap(p => scala.util.Try(p.stripPrefix("cell=").toInt).toOption)

  /** The shared rewrite engine behind per-cell compaction and
    * retention: hard-link every NON-selected cell's files into a new
    * child preserving relative paths (byte-identical carry-over), read
    * ONLY the selected cells (partition-pruned scan), apply
    * `transform`, and write them back one file per cell under the
    * child's original partition layout (ingest, where present,
    * collapses to a synthetic -1 — the merged-partition marker), then
    * publish via the LATEST marker. Requires a foreachBatch-written
    * child (no _spark_metadata): a sink-log child's listing authority
    * is the log, which a file-level rewrite cannot preserve — use the
    * whole-store ivfStoreCompact there.
    */
  private def storeRewriteCells(s: SparkSession, root: String, cur: String,
                                cells: Set[Int],
                                transform: DataFrame => DataFrame,
                                files0: Seq[java.io.File] = Nil): String = {
    require(!new java.io.File(cur, "_spark_metadata").exists,
      s"per-cell rewrite targets foreachBatch-written stores; $cur " +
        "carries a streaming-sink log — use ivfStoreCompact")
    val curPath = java.nio.file.Paths.get(cur)
    // caller may pass the file list it already walked (compaction's
    // hot-cell scan) — one directory walk per pass, not two
    val files = if (files0.nonEmpty) files0 else storeDataFiles(cur)
    // every data file must belong to a parseable cell= partition, or
    // the link/rewrite split below would silently drop its rows from
    // the published child — fail loudly instead
    files.find(f => storeCellOf(cur, f).isEmpty).foreach(f =>
      sys.error(s"store child $cur holds a data file outside a " +
        s"cell= partition: $f — not a per-cell store"))
    val dir = s"$root/cmp_${System.nanoTime()}"
    for (f <- files; c <- storeCellOf(cur, f) if !cells(c)) {
      val dst = java.nio.file.Paths.get(dir)
        .resolve(curPath.relativize(f.toPath))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.createLink(dst, f.toPath)
    }
    // partition-column order from the physical layout (the sample is
    // any data file's relative dir components in order)
    val partCols = files.headOption.toSeq.flatMap(f =>
      curPath.relativize(f.toPath).toString
        .split(java.io.File.separatorChar).toSeq.dropRight(1)
        .filter(_.contains("=")).map(_.takeWhile(_ != '=')))
    // transform FIRST (a retention predicate may reference the real
    // ingest values), THEN collapse ingest to the merged marker
    val rows = transform(s.read.parquet(cur)
      .filter(col("cell").isin(cells.toSeq: _*)))
    val out =
      if (partCols.contains("ingest")) rows.withColumn("ingest", lit(-1L))
      else rows
    out
      .repartition(col("cell"))
      .write.mode("append").partitionBy(partCols: _*).parquet(dir)
    ivfStoreCommitLatest(root, dir)
    dir
  }

  /** Arrival-side cell assignment for the streaming store ingest: each
    * arriving vector takes its cell under `q` as a pure per-row
    * expression (semdedupArriving — slice 1 of the quantizer's rank,
    * its batch assignment), as the (vec_id, cell, embedding)
    * assignment a codec turns into inverted-list entries. No state, no
    * shuffle — the write's partitionBy(cell) is what places the row.
    */
  private def ivfArrivingAssign(df: DataFrame, q: Quantizer): DataFrame =
    semdedupArriving(df.select(col("vec_id"), col("embedding").as("qe")), q)
      .select(col("vec_id"), col("cell"), col("qe").as("embedding"))

  /** Build `codec`'s store of the whole corpus under `q` in one write
    * (storeBuild under the codec's root); returns the child.
    */
  private def corpusStoreBuild(s: SparkSession, d: String, q: Quantizer,
                               codec: Codec): String =
    storeBuild(codec.root(d),
      codec.rows(codec.lists(q.assigned(Tables.embeddingsSpread(s, d)))))

  /** One micro-batch of the streaming store ingest, for either codec:
    * the arriving vectors' cells under `q` (ivfArrivingAssign), the
    * codec's store rows, written as this batch's ingest=batchId
    * partitions inside their cell directories with DYNAMIC partition
    * overwrite — a redelivered batch overwrites its OWN partitions
    * instead of double-appending, so ingest is exactly-once by layout,
    * keyed on the batch id.
    */
  private[graft] def storeIngest(codec: Codec, q: Quantizer, store: String,
                                 batch: DataFrame, batchId: Long): Unit =
    codec.rows(codec.lists(ivfArrivingAssign(batch, q)))
      .withColumn("ingest", lit(batchId))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "ingest").parquet(store)

  /** IVF serving FROM a persisted cell-partitioned store of `codec`'s
    * rows: the probe lists come from the quantizer `q` the store was
    * built under (built once by the caller) and the query rows from the
    * live table, the corpus side is the artifact's decoded scan — the
    * broadcast probe join prunes it to the probed cells' partitions.
    * ONE definition for the built faces (ann_ivf_persisted_topk,
    * _retain_topk, ann_ivfpq_persisted_topk, _compact_topk) and the
    * streaming-ingested ones; reads both layouts (an ingested store's
    * extra `ingest` partition column is dropped by the decode).
    */
  private[graft] def storeServe(s: SparkSession, d: String, q: Quantizer,
                                codec: Codec, store: String): DataFrame = {
    val e = Tables.embeddingsSpread(s, d)
    ivfServe(codec, codec.decode(s.read.parquet(store)), q, q.scored(e), e)
  }

  /** The assignment + probe-list CTEs over a ranked-cells CTE — ONE
    * definition parametrized by the quantizer's ranked table and cell
    * column (ranked_cells/clabel for the label family, kmranked/kcell
    * for the trained family), shared by all three ADC oracles.
    */
  private def ivfAssignProbeSql(ranked: String, cellCol: String): String =
    s"""ivf_assigned AS (
        SELECT vec_id, $cellCol AS cell FROM $ranked WHERE crn = 1),
      ivf_probed AS (
        SELECT vec_id AS qid, $cellCol AS cell FROM $ranked
        WHERE vec_id < $NQueries AND crn <= $NProbe)"""

  /** The ADC distance aggregation (cell filter before the LUT join) —
    * one definition for ann_ivfpq_topk / _kmeans_topk / _refine.
    */
  private lazy val adcDistSql: String = s"""adist AS (
        SELECT p.qid, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adist
        FROM ivf_probed p
        JOIN ivf_assigned a ON a.cell = p.cell AND a.vec_id != p.qid
        JOIN codes c ON c.vec_id = a.vec_id
        JOIN lut l ON l.qid = p.qid AND l.sub_id = c.sub_id AND l.code = c.code
        GROUP BY 1, 2)"""

  /** The ADC top-3 ranking tail over `adist` — shared by both raw ADC
    * faces (refine carries its own shortlist/re-rank tail instead).
    */
  private lazy val adcTopkTailSql: String = s"""rankedq AS (
        SELECT qid, vec_id, adist,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS rnk
        FROM adist)
      SELECT qid, vec_id AS nn_id, CAST(rnk AS BIGINT) AS rnk, adist
      FROM rankedq WHERE rnk <= 3"""

  /** ann_ivfpq_topk's complete oracle — shared verbatim with the
    * persisted-code-store face (ann_ivfpq_persisted_topk): IVFADC with
    * the PQ CTEs composed over the IVF cell CTEs — codes of vectors in
    * a query's probed cells flow through the LUT sum and the ranked
    * top-3; everything else is pruned by the probed-cell join before
    * any distance work.
    */
  private lazy val ivfpqLabelTopkSql: String = s"""
      WITH ${pqCtesSql(k = IvfPqK)},
      $ivfCellCtesSql,
      ${ivfAssignProbeSql("ranked_cells", "clabel")},
      $adcCodesLutSql,
      $adcDistSql,
      $adcTopkTailSql"""

  private lazy val adcCodesLutSql = s"""codes AS MATERIALIZED (
        SELECT vec_id, sub_id, code_id AS code FROM pqranked WHERE rnk = 1),
      lut AS MATERIALIZED (
        SELECT vec_id AS qid, sub_id, code_id AS code, dist AS d2
        FROM pqdists WHERE vec_id < $NQueries)"""

  /** The oracle twin of ivfTopkTail, closing over `assigned`, `probed`
    * and `q` CTEs — ONE definition shared by ann_ivf_topk and
    * ann_ivf_kmeans_topk, so the scored/ranked tail cannot drift
    * between the two quantizer faces.
    */
  private lazy val ivfTopkTailSql: String = s"""scored AS (
        SELECT p.qid, a.nn_id, ${dotSql("q.qe", "e.embedding")} AS cos
        FROM probed p JOIN assigned a ON a.cell = p.cell AND a.nn_id != p.qid
        JOIN q ON q.qid = p.qid
        JOIN embeddings e ON e.vec_id = a.nn_id),
      ranked AS (
        SELECT qid, nn_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rnk
        FROM scored)
      SELECT qid, nn_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rnk <= 3"""

  private def dotSql(x: String, y: String): String =
    (1 to Dim).map(i => s"CAST($x[$i] AS DOUBLE)*CAST($y[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** Band `b` of the signature, computed directly (bits 16b .. 16b+15) —
    * per-band form keeps every SQL integer within 16 bits, avoiding the
    * BIGINT `1 << 63` overflow a single 64-bit signature column would hit.
    */
  private def bandSigSql(b: Int, v: String): String =
    (0 until BandBits).map { k =>
      val j = b * BandBits + k
      val s = (0 until Dim).map(i =>
        s"${W(j)(i)}.0*CAST($v[${i + 1}] AS DOUBLE)").mkString(" + ")
      s"(CASE WHEN ($s) > 0 THEN ${1 << k} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def bandsCteSql: String =
    s"""sigs AS (SELECT vec_id, embedding,
          ${(0 until Bands).map(b => s"${bandSigSql(b, "embedding")} AS b$b").mkString(",\n          ")}
        FROM embeddings)"""

  /** Shared CTE chain: banded signatures → exact-band candidate pairs →
    * exact-cosine scores (used by dedup_embedding and dedup_clusters).
    */
  private def dedupScoredCtes: String =
    s"""$bandsCteSql,
      cand AS (
        SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
        FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND (
          ${(0 until Bands).map(b => s"a.b$b = b.b$b").mkString(" OR ")})),
      scored AS (
        SELECT c.da, c.db, ${dotSql("a.embedding", "b.embedding")} AS cos
        FROM cand c JOIN embeddings a ON a.vec_id = c.da
        JOIN embeddings b ON b.vec_id = c.db)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-3 for NQueries query vectors: broadcast
    // the queries, stream the corpus once, rank per query. The exact
    // baseline every ANN variant is judged against.
    "ann_brute_topk" -> ((s, d) => {
      val e = Tables.embeddingsSpread(s, d)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(queriesOf(e)))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", dot(col("qe"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("vec_id").as("nn_id"),
          col("rnk").cast("long").as("rnk"),
          round(col("cos"), 6).as("cos_sim"))
    }),

    // LSH-bucketed ANN: multi-probe banded candidates, then exact-cosine
    // top-3 within the candidate set (see class doc for the banding math).
    "ann_lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("nn_id"))
      annCandidates(s, d)
        .join(broadcast(queriesOf(e)), "qid")
        .join(e.select(col("vec_id").as("nn_id"), col("embedding")), "nn_id")
        .withColumn("cos", dot(col("qe"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("nn_id"),
          col("rnk").cast("long").as("rnk"),
          round(col("cos"), 6).as("cos_sim"))
    }),

    // IVF (inverted-file) ANN — the other classic scale path next to
    // LSH: a coarse quantizer (here: exact per-label mean vectors via
    // fixed-point integer sums, see CentScale) partitions the corpus
    // into cells; each query probes its NProbe nearest cells and runs
    // exact top-k ONLY within them (~NProbe/10 of the corpus). At
    // 100 TB the cell id becomes the table's partition key, so a probe
    // reads only its cells' partitions — measured, not argued:
    // PartitioningSpec writes the cell-assigned corpus
    // partitionBy("cell") and pins files-read = 3 of 10 on the probe
    // join, batch (dynamic partition pruning) and streaming faces.
    // Determinism: centroid components are exact integer-sum means; all
    // centroid-dot products fold over positions in index order (the
    // native dot kernel) — both mirrored exactly in the oracle SQL.
    // Assignment is a bounded-state min_by and probe selection a rank
    // window after the query filter (Quantizer), both under the
    // (dot DESC, cell ASC) order the oracle's ranked_cells states.
    "ann_ivf_topk" -> ((s, d) => ivfTopk(s, d, Quantizer.labelMeans(s, d), Codec.raw)),

    // THE PERSISTED INDEX: every serving gate
    // above rebuilds its inverted lists in-plan; at 100 TB the cell
    // join IS the storage layout — the index written once, partitioned
    // by cell on disk, and a query's probe list a partition-pruned
    // read of NProbe directories. This row makes that claim a
    // CORRECTNESS surface instead of a doc argument: the assignment is
    // written as a cell-partitioned parquet artifact (repartition(cell)
    // first, so each cell's inverted list is exactly one file — the
    // clustered write a production index build does), and serving
    // reads the ARTIFACT: the broadcast probe join runs against the
    // store scan with dynamic partition pruning turning it into a read
    // of only the probed cells' partitions. PartitioningSpec pins the
    // physical plan: files read = NProbe on a one-query lookup, DPP
    // predicate present on this query's own store scan. The oracle is
    // ann_ivf_topk's verbatim — a persisted index that drifts from the
    // in-plan assignment hash-mismatches, not just slows down. One
    // quantizer serves both the build and the probe lists.
    "ann_ivf_persisted_topk" -> ((s, d) => {
      val q = Quantizer.labelMeans(s, d)
      storeServe(s, d, q, Codec.raw, corpusStoreBuild(s, d, q, Codec.raw))
    }),

    // RETENTION AS A SERVING CONTRACT (a CORRECTNESS row, not just a
    // spec): build the persisted index,
    // age out a deterministic kept-set (vec_id % RetainMod ==
    // RetainDrop models the expired cohort — at production it's a TTL
    // on the ingest partition or a kept-id inventory), and serve the
    // full query set FROM THE RETAINED ARTIFACT. ivfStoreRetain
    // rewrites only the cells that contained dropped rows (clean
    // cells carry over as hard links — spec-pinned byte-identity);
    // the oracle is the IVF chain with the corpus restriction stated,
    // so a row resurrected, over-dropped, or mis-bucketed by the
    // rewrite hash-mismatches. Queries still come from the live
    // table: a searcher whose own vector aged out still searches.
    "ann_ivf_persisted_retain_topk" -> ((s, d) => {
      val q = Quantizer.labelMeans(s, d)
      corpusStoreBuild(s, d, q, Codec.raw)
      val kept = ivfStoreRetain(s, Codec.raw.root(d),
        col("nn_id") % RetainMod =!= RetainDrop)
      storeServe(s, d, q, Codec.raw, kept)
    }),

    // Unsupervised coarse-quantizer training — Lloyd k-means over the
    // vectors themselves (the published FAISS protocol; see the
    // Lloyd k-means section doc). Output: the full-corpus cell
    // assignment under the trained quantizer — the inverted-list
    // building block when no label column exists.
    "vec_kmeans_assign" -> ((s, d) =>
      Quantizer.lloyd(s, d).assigned(Tables.embeddingsSpread(s, d))
        .select(col("vec_id"), col("cell"))),

    // IVF top-k on the TRAINED (k-means) coarse quantizer — the same
    // probe-NProbe-cells/exact-within shape as ann_ivf_topk with Lloyd
    // cells instead of the label means: what the IVF family
    // runs on a label-less corpus. Assignment and probe selection rank
    // by ascending exact L2² (the quantizer's own training metric,
    // tie to the smaller cell id); recall@3 vs brute measured at the
    // KmRounds doc (0.633 vs the label cells' 0.533 at NProbe=3 —
    // trained cells beat the supervised ones they replace here).
    "ann_ivf_kmeans_topk" -> ((s, d) => ivfTopk(s, d, Quantizer.lloyd(s, d), Codec.raw)),

    // IVF top-k with the quantizer trained on the DETERMINISTIC
    // SIZE-TARGETED SUBSAMPLE — the FAISS max_points_per_centroid
    // protocol (a constant-fraction sample would still scan O(corpus)
    // per round): the training set is capped at an ABSOLUTE size
    // (KmTrainPerCell × k points; modulus derived from the corpus
    // count as a lazy one-row broadcast, mirrored by the oracle's
    // scalar subquery), so the Lloyd rounds scan a ~250-point set at
    // EVERY scale factor (moduli 2/2/8 at sf0.001/0.01/0.1), the full
    // corpus is assigned ONCE, and serving is unchanged. At 100 TB
    // this is the only trainable shape: T rounds × an O(1) sample
    // instead of T full-corpus scans — measured training growth under
    // 10× data ~1.0× (SCALING_r15). Measured sample-vs-full
    // (recall@3 vs brute at NProbe = 3,
    // full-corpus assignment under each quantizer, at the registered
    // KmRounds = 2):
    // sf0.01 sampled 0.610 vs full 0.633 (full-corpus distortion
    // 467.9 vs 461.8; 250 of 500 train); sf0.1 sampled 0.623 vs full
    // 0.623 (1925.1 vs 1894.9; 250 of 2000 train) — the size-targeted
    // quantizer TIES full training at sf0.1 on 1/8 the training
    // points, sits inside the band at sf0.01, and BEATS the label
    // cells it replaces at both scales (0.533/0.540). The sample's
    // own Lloyd objective is non-increasing; the FULL-corpus
    // distortion under sampled training may tick up ~0.2%/round past
    // round 1 at sf0.1 (the sample's optimum is not the corpus's —
    // expected generalization noise, recall unaffected). VectorSpec
    // pins sampled > label at the gate corpus and the sampled-loop
    // distortion non-increase there. ONE serving-chain definition for
    // both training regimes (ivfTopk — only the trainer's input set
    // differs).
    "ann_ivf_kmeans_sampled_topk" -> ((s, d) =>
      ivfTopk(s, d, Quantizer.lloyd(s, d, sampled = true), Codec.raw)),

    // Embedding-cosine near-dup: exact-band candidate pairs (da < db),
    // verified at cosine >= 0.3 (threshold note in class doc). ONE
    // shuffle equi-join of the LSH table with itself on (band, value) —
    // 65 536 bounded buckets per band, no corpus-side probe blow-up.
    "dedup_embedding" -> ((s, d) => {
      val e = Tables.embeddingsSpread(s, d)
      val t = lshTable(s, d)
      val cand = t.select(col("vec_id").as("da"), col("bnd"), col("bval"))
        .join(t.select(col("vec_id").as("db"), col("bnd"), col("bval")),
          Seq("bnd", "bval"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db")).distinct()
      cand
        .join(e.select(col("vec_id").as("da"), col("embedding").as("ea")), "da")
        .join(e.select(col("vec_id").as("db"), col("embedding").as("eb")), "db")
        .withColumn("cos", dot(col("ea"), col("eb")))
        .filter(col("cos") >= DedupCos)
        .select(col("da"), col("db"), round(col("cos"), 6).as("cos_sim"))
    }),

    // Mutual approximate k-NN graph — the SemDeDup / cluster-pruning
    // building block: LSH-banded candidate pairs scored exactly, each
    // node keeps its top-K neighbors by cosine, and an edge survives
    // only if BOTH endpoints keep it (the standard mutual-kNN
    // sparsifier). Scale shape: candidates come from ONE bounded-
    // bucket LSH self-join (same as dedup_embedding), the symmetrized
    // edge list ranks under a per-node window (K rows of state per
    // key), and mutuality is a semi-join of the ranked list against
    // its own reversal — every shuffle keyed, volume linear in the
    // candidate count. At 100 TB `ranked` would be persisted once and
    // read twice; here Spark just recomputes the cheap subtree.
    "vec_knn_graph" -> ((s, d) => {
      val e = Tables.embeddingsSpread(s, d)
      val t = lshTable(s, d)
      val cand = t.select(col("vec_id").as("da"), col("bnd"), col("bval"))
        .join(t.select(col("vec_id").as("db"), col("bnd"), col("bval")),
          Seq("bnd", "bval"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db")).distinct()
      val scored = cand
        .join(e.select(col("vec_id").as("da"), col("embedding").as("ea")), "da")
        .join(e.select(col("vec_id").as("db"), col("embedding").as("eb")), "db")
        .withColumn("cos", dot(col("ea"), col("eb")))
        .select(col("da"), col("db"), col("cos"))
      val ranked = scored
        .unionAll(scored.select(col("db").as("da"), col("da").as("db"),
          col("cos")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("da")).orderBy(col("cos").desc, col("db"))))
        .filter(col("rnk") <= KnnK)
        .select(col("da"), col("db"), col("cos"))
      ranked.filter(col("da") < col("db"))
        .join(ranked.select(col("db").as("da"), col("da").as("db")),
          Seq("da", "db"), "left_semi")
        .select(col("da"), col("db"), round(col("cos"), 6).as("cos_sim"))
    }),

    // Symmetric int8 quantization (the embedding-compression step of a
    // training pipeline): per-vector scale = max |x|, q = round-half-up
    // (127 * x / scale). floor(t + 0.5) rather than ROUND because the
    // engines' ROUND tie-behaviors differ; the arithmetic (cast, /, *,
    // +) is ordered identically on both sides so ties are bit-identical.
    // Long form (vec_id, pos, qv) — narrow, shuffle-free scan.
    "vec_quantize" -> ((s, d) =>
      Tables.embeddingsSpread(s, d)
        .select(col("vec_id"),
          aggregate(col("embedding"), lit(0.0),
            (a, x) => greatest(a, abs(x.cast("double")))).as("scale"),
          col("embedding"))
        .select(col("vec_id"), col("scale"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          // zero-vector guard: scale = 0 would give 0/0 = NaN and an
          // ANSI cast error; define qv = 0 for the all-zero embedding
          when(col("scale") > 0.0,
            floor(col("v").cast("double") / col("scale") * lit(127.0) + lit(0.5))
              .cast("long")).otherwise(lit(0L)).as("qv"),
          col("scale"))),

    // Random-projection dimensionality reduction (64 → 8 dims): project
    // the int8-quantized vector onto NProj deterministic ±1 sign
    // vectors (Achlioptas-style database-friendly projection) — all
    // integer arithmetic, so both engines produce identical
    // coordinates. Relational formulation: quantized components
    // broadcast-join the 8×64 sign table on pos, then one partial-
    // aggregating sum per (vec_id, proj) — no wide expression tree to
    // blow codegen, and the plan is a narrow scan + broadcast + one
    // exchange at any corpus size.
    "vec_rp_project" -> ((s, d) => {
      import s.implicits._
      val signs = (for (j <- 0 until NProj; i <- 0 until Dim)
        yield (j.toLong, i.toLong, rpSign(j, i).toLong))
        .toDF("proj_id", "pos", "sgn")
      queries("vec_quantize")(s, d)
        .select(col("vec_id"), col("pos"), col("qv"))
        .join(broadcast(signs), "pos")
        .groupBy(col("vec_id"), col("proj_id"))
        .agg(sum(col("qv") * col("sgn")).as("p"))
    }),

    // Connected components over the near-dup pair graph — the canonical-
    // assignment step a dedup pipeline runs AFTER pair generation: docs
    // linked (transitively) by dedup_embedding pairs share a cluster,
    // labeled by the cluster's smallest vec_id. The propagation loop
    // (and its scale rationale) lives in Graphs.connectedComponents,
    // shared with the MinHash twin (TextQueries.dedup_minhash_clusters).
    "dedup_clusters" -> ((s, d) =>
      Graphs.connectedComponents(
        queries("dedup_embedding")(s, d).select(col("da"), col("db")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))),

    // SemDeDup (Abbas et al., arXiv 2303.09540): cluster the corpus
    // with the coarse quantizer, compute pairwise cosine ONLY within
    // each cluster, and from every near-duplicate relation keep the
    // member with the LOWEST similarity to its cluster centroid (the
    // paper's keep-rule: the least-prototypical copy carries the most
    // marginal information). Stated deterministically as dominance:
    // a member is dropped iff SOME same-cell neighbor at cos >= the
    // DedupCos threshold has a strictly smaller (centroid-sim, vec_id)
    // key — no RNG, no iteration order, engine-portable. Output is the
    // full corpus with its cell, centroid similarity, and kept flag
    // (BIGINT 1/0 — the decision a curation pipeline joins on).
    // Scale shape — the published one: the quadratic term is bounded
    // per cell at (n/k)² and the self-join is ONE shuffle keyed by
    // cell; at 100 TB the cluster count k scales with the corpus to
    // hold cell width constant (SemDeDup's own protocol) and the cell
    // is the table's partition key (the PartitioningSpec storage
    // claim), so each cell's pairs compute inside its own partition.
    // Here k = the 10 label-cells the IVF family trains — wide enough
    // that the within-cell exact scan IS the honest cost (no LSH
    // pre-filter hiding the paper's actual arithmetic).
    "dedup_semdedup" -> ((s, d) => semdedup(s, d, Quantizer.labelMeans(s, d))),

    // SemDeDup on the TRAINED quantizer — the paper's actual protocol
    // (Abbas et al. 2303.09540 §3 cluster with k-means, not with
    // labels): Lloyd cells, prototypicality = dot with the TRAINED
    // cell centroid, decision body shared verbatim with the registered
    // label-cell face (semdedup — one definition).
    // The label-cell query above stays registered alongside: it is the
    // supervised comparison point and the streaming admission gate's
    // oracle anchor. On the planted fixture the trained cells recover
    // 20/20 near-copy pairs where the label cells miss 1 (the pinned
    // boundary crossing — vec 9's perturbation flips its label-mean
    // cell but not its Lloyd cell; VectorSpec). Scale shape identical:
    // per-cell quadratic bounded at (n/k)², cell the partition key;
    // the one new cost is the KmRounds training scans (see the
    // Lloyd k-means section doc).
    "dedup_semdedup_kmeans" -> ((s, d) => semdedup(s, d, Quantizer.lloyd(s, d))),

    // The SemDeDup paper's actual production protocol end-to-end: the
    // coarse quantizer trained on the SIZE-TARGETED sample (the FAISS
    // max_points_per_centroid device — ~KmTrainPerCell·k training
    // points whatever the corpus; the paper itself clusters a sample,
    // never all of LAION), then the full corpus assigned once and the
    // per-cell dominance decisions taken exactly as the full-trained
    // face — same semdedup body, only the trainer's input set
    // differs. With this row the sampled trainer is carried
    // through EVERY registered consumer family (IVF serving, ADC,
    // and now the dedup face) — training cost O(1) in corpus size on
    // all of them.
    "dedup_semdedup_kmeans_sampled" -> ((s, d) =>
      semdedup(s, d, Quantizer.lloyd(s, d, sampled = true))),

    // SemDeDup with the MULTI-CELL probe knob at nprobe=2 (the paper's
    // multiple-assignments mitigation, semdedupKept doc): the pair
    // scan covers each vector's top-2 cells, recovering the
    // cell-boundary near-dups the single-cell scan documents as its
    // loss mode (planted fixture 19/20 → 20/20, VectorSpec). The
    // single-cell query above stays the registered default — it is the
    // paper's protocol and its scan cost is half — so the boundary
    // loss is now a measured KNOB, not a known-miss.
    "dedup_semdedup_probe2" -> ((s, d) => semdedupKept(s, d, nprobe = 2)),

    // Product quantization — the billion-scale ANN compression step
    // (IVF-PQ's second stage): each vector splits into PqM subvectors;
    // each subvector is assigned its nearest of PqK codewords, so the
    // vector stores as PqM small codes instead of Dim floats. The
    // codebook is deterministically TRAINED: first-PqK-vector seeds
    // refined by PqRounds integer-exact Lloyd rounds (pqCodebook —
    // distortion non-increase per round spec-pinned), and the whole operator runs
    // in EXACT integer arithmetic on the int8-quantized components:
    // L2² distances are bounded by PqSub·254², argmin ties break on
    // the smaller code id via the ranked-window device.
    // Scale shape: one narrow scan, the PqM×PqK codebook broadcast,
    // the per-(vector, subspace) window holds PqK rows of state —
    // nothing scales beyond N·PqM rows through one keyed window.
    "vec_pq_codes" -> ((s, d) => {
      val subs = pqSubs(s, d).localCheckpoint()
      pqAssign(subs, pqCodebook(subs))
        .select(col("vec_id"), col("sub_id").cast("long").as("sub_id"),
          col("code"), col("dist"))
    }),

    // ADC search over the PQ codes — the query shape of billion-scale
    // ANN (Jégou et al.'s ADC; the EXHAUSTIVE variant — ann_ivfpq_topk
    // below composes it with the IVF cell filter): a query
    // never touches raw vectors; it builds a PqM×PqK lookup table of
    // integer subspace distances to every codeword (12.8k rows for
    // 100 queries — broadcast), scans the COMPRESSED code table, and
    // sums one looked-up term per subspace. The scan side carries
    // 3 small ints per (vector, subspace) — the 32× compression is
    // what makes exhaustive search feasible at 10⁹ vectors — and the
    // aggregation is (qid, vec_id)-keyed with the ranked-window top-k
    // on (adist, vec_id). Exact integer end to end; approximation
    // error relative to true distances is inherent to PQ, not to the
    // engines, so the result is oracle-exact.
    "ann_pq_adc_topk" -> ((s, d) => {
      // ONE materialized subvector scan feeds the code assignment, the
      // codebook training, and the query LUT (five references
      // otherwise — at 100 TB each re-reads the embeddings table).
      // localCheckpoint, not cache(): freed by the ContextCleaner when
      // the frame goes out of scope (the established jaccard/minhash
      // hygiene). The trained codebook is checkpointed INSIDE
      // pqCodebook (once per Lloyd round), so its broadcasts read
      // materialized blocks with no extra call-site checkpoint.
      val subs = pqSubs(s, d).localCheckpoint()
      adcTopk(subs, pqCodebook(subs))
    }),

    // True IVFADC (Jégou et al., "Product Quantization for Nearest
    // Neighbor Search", TPAMI'11) — the billion-scale composition the
    // two halves above exist for: the IVF coarse quantizer assigns
    // every vector to a cell; vectors store as PQ codes; a query
    // probes only its NProbe nearest cells and runs the ADC scan over
    // THOSE cells' codes — per-query cost O(N·NProbe/NCells) code
    // rows instead of ann_pq_adc_topk's exhaustive O(N). This is the
    // no-residual variant (PQ trained on the raw vectors, not on
    // x − centroid — FAISS's IVFPQ with by_residual=false): the
    // residual twin (ivfpqResidualTopk) is implemented and MEASURED
    // at-or-below raw on this corpus (grid in the IvfPqK doc), so the
    // registered geometry is raw k = IvfPqK, chosen by measurement.
    // Plan shape, in the order the rows flow: the code table joins its
    // cell assignment (one co-partitioned vec_id join — at 100 TB the
    // codes are STORED partitioned by cell as the inverted lists, and
    // this join disappears into partition pruning; the storage claim
    // is measured in PartitioningSpec's inverted-list test), the broadcast
    // (qid, cell) probe list filters codes to probed cells BEFORE any
    // LUT work, then the broadcast LUT join + (qid, vec_id) keyed sum
    // + ranked top-3 proceed exactly as in ann_pq_adc_topk. Recall vs
    // the exact baseline is the product of the two stages' losses
    // (cell pruning × PQ distortion) — floor-pinned in VectorSpec.
    "ann_ivfpq_topk" -> ((s, d) =>
      ivfTopk(s, d, Quantizer.labelMeans(s, d), Codec.pq(s, d))),

    // THE PERSISTED IVFADC CODE STORE: the
    // raw-vector store above persists full embedding arrays; at 100 TB
    // the artifact worth persisting is the PQ CODE table — PqM bytes
    // per vector instead of Dim floats (32× smaller here: 8 tinyint
    // codes vs 64 floats), cell-partitioned, which IS the published
    // IVFADC layout (Jégou et al. TPAMI'11 fig. 5: inverted lists of
    // (id, code) entries per coarse cell; FAISS IndexIVFPQ's on-disk
    // form). The write packs each vector's PqM codes into one
    // array<tinyint> row (sorted by sub_id — posexplode re-derives the
    // sub_id at read), clusters with repartition(cell) so each cell's
    // code list is exactly one file, and publishes via the LATEST
    // marker. Serving reads the ARTIFACT: probe lists and the query
    // LUT come from the live quantizer/codebook (both broadcast-sized
    // at any corpus scale), the broadcast probe join prunes the code
    // scan to NProbe cells' files (PartitioningSpec pins files read =
    // NProbe), and the ADC distance is the same keyed LUT sum as the
    // in-plan face — so the oracle is ann_ivfpq_topk's VERBATIM: a
    // code mis-packed, mis-placed, or re-ranked by the round trip
    // hash-mismatches rather than just drifting recall.
    "ann_ivfpq_persisted_topk" -> ((s, d) => {
      val q = Quantizer.labelMeans(s, d)
      val codec = Codec.pq(s, d)
      storeServe(s, d, q, codec, corpusStoreBuild(s, d, q, codec))
    }),

    // PER-CELL COMPACTION AS A SERVING CONTRACT (a CORRECTNESS row):
    // the code store accumulates TWO batch
    // ingests (storeIngest — the streaming face's exact write,
    // two files per cell), ivfStoreCompactCells collapses every
    // crossed-threshold cell to one clustered file, and the full
    // query set serves FROM THE COMPACTED ARTIFACT. Content
    // preservation is the whole contract, so the oracle is
    // ann_ivfpq_topk's VERBATIM — a code lost, duplicated, or
    // re-bucketed by the rewrite hash-mismatches; PartitioningSpec
    // separately pins the hot/cold file mechanics (one file per hot
    // cell, hard-linked cold cells) on a mixed fixture.
    "ann_ivfpq_persisted_compact_topk" -> ((s, d) => {
      val e = Tables.embeddingsSpread(s, d)
      val q = Quantizer.labelMeans(s, d)
      val codec = Codec.pq(s, d)
      val store = storeNewChild(codec.root(d))
      for (i <- 0 to 1)
        storeIngest(codec, q, store, e.filter(col("vec_id") % 2 === i), i.toLong)
      ivfStoreCommitLatest(codec.root(d), store)
      storeServe(s, d, q, codec, ivfStoreCompactCells(s, codec.root(d)))
    }),

    // IVFADC on the TRAINED coarse quantizer — the fully unsupervised
    // published stack (FAISS's own shape: k-means coarse quantizer +
    // PQ codes + ADC scan), nothing derived from the label column
    // anywhere in the chain. Same ADC machinery (the PQ codec is
    // quantizer-agnostic); cells and probe lists come from the Lloyd
    // quantizer under min-L2. Measured at
    // sf0.01 (VectorSpec): ADC recall@3 vs brute 0.233 on trained
    // cells vs 0.207 on label cells (direction pinned); residual
    // encoding RE-MEASURED on trained cells — the label family's
    // centroids-near-origin argument is void here, yet residual still
    // loses (0.153: per-cell re-quantization of near-uniform residuals
    // costs more than centering buys at this codebook geometry), so
    // raw stays the registered default ON MEASUREMENT, spec-pinned to
    // re-open loudly if a corpus change flips it.
    "ann_ivfpq_kmeans_topk" -> ((s, d) =>
      ivfTopk(s, d, Quantizer.lloyd(s, d), Codec.pq(s, d))),

    // The production-trainer IVFADC: the fully unsupervised stack
    // with the coarse quantizer trained on the SIZE-TARGETED sample
    // (kmTrainSample — the FAISS max_points_per_centroid protocol the
    // sampled IVF face implements), completing the sampled path
    // through PQ + ADC: at 100 TB this is the whole-stack shape
    // (train coarse cells on an O(1)-size sample, assign + encode the
    // corpus once, serve pruned ADC scans). Everything past the
    // quantizer is the shared quantizer-agnostic chain.
    // Measured (VectorSpec): ADC recall@3 vs brute 0.230 sampled vs
    // 0.233 full-trained at sf0.01 — PQ distortion dominates, so the
    // bounded training set costs nothing measurable at this geometry;
    // band-pinned.
    "ann_ivfpq_kmeans_sampled_topk" -> ((s, d) =>
      ivfTopk(s, d, Quantizer.lloyd(s, d, sampled = true), Codec.pq(s, d))),

    // IVFADC+R — the published third stage of the billion-scale stack
    // (Jégou et al. TPAMI'11 §V): ADC's top-RefineR shortlist per
    // query, re-ranked by the EXACT cosine, final top-3 from the
    // re-ranked order. Closes most of the gap PQ distortion opens:
    // measured recall@3 vs brute at the registered geometry is
    // recorded at the RefineR doc (ADC 0.207 → refine → the
    // ann_ivf_topk probed-cell ceiling), direction-pinned in
    // VectorSpec. Cost: R exact distances per query — corpus-
    // independent — via ONE broadcast of the (qid, nn_id) shortlist
    // against the raw-vector table; the corpus streams through a
    // broadcast hash join exactly once, no new shuffle at any scale.
    "ann_ivfpq_refine" -> ((s, d) => ivfpqRefineTopk(s, d)),

    // PageRank over the mutual-kNN graph — the graph-centrality signal
    // of SemDeDup-style curation: high-rank nodes sit in dense
    // semantic neighborhoods (cluster representatives), low-rank ones
    // are outliers. Fixed PrIters power iterations, damping 0.85; the
    // graph is symmetric (mutual edges both ways), so every node has
    // out-edges — no dangling-mass term — and in-neighbors exist iff
    // out-neighbors do (inner joins throughout). FP determinism: each
    // node's incoming contributions fold in SORTED order (the
    // playbook's bit-identical left-associated sum); every other term
    // (1/N, r/outdeg, 0.85·S) has identical operands in both engines.
    // Scale shape: the expensive kNN subtree materializes ONCE
    // (localCheckpoint; at 100 TB a reliable checkpoint — same
    // injectable-strategy rationale as Graphs.connectedComponents);
    // each iteration is one node-keyed join + one aggregation over
    // the edge list, state one double per node, loop count fixed —
    // plan depth grows linearly, never exponentially.
    "vec_knn_pagerank" -> ((s, d) => {
      val mutual = queries("vec_knn_graph")(s, d).select(col("da"), col("db"))
      val edges = mutual
        .unionAll(mutual.select(col("db").as("da"), col("da").as("db")))
        .select(col("da").as("src"), col("db").as("dst"))
        .localCheckpoint(true)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val nn = deg.agg(count(lit(1)).as("n"))
      var ranks = deg.select(col("src").as("id"))
        .crossJoin(broadcast(nn))
        .select(col("id"), (lit(1.0) / col("n").cast("double")).as("r"))
      for (_ <- 1 to PrIters) {
        val contrib = edges
          .join(deg, "src")
          .join(ranks.select(col("id").as("src"), col("r")), "src")
          .select(col("dst").as("id"),
            (col("r") / col("outdeg")).as("contrib"))
        ranks = contrib.groupBy(col("id"))
          .agg(aggregate(array_sort(collect_list(col("contrib"))),
            lit(0.0), (a, x) => a + x).as("s"))
          .crossJoin(broadcast(nn))
          .select(col("id"),
            (lit(0.15) / col("n").cast("double") + lit(0.85) * col("s"))
              .as("r"))
      }
      ranks.select(col("id").as("vec_id"), round(col("r"), 6).as("pr"))
    }),

    // Per-label centroid in long form (label, pos, c, n): grouped double
    // addition is made order-independent by summing FIXED-POINT integers
    // (see CentScale) — associative, partial-aggregating, one long of
    // state per group, bit-identical across engines. 64 dims x 10
    // labels = 640 rows out.
    "vec_label_centroid" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(floor(col("v").cast("double") * lit(CentScale.toDouble)
            + lit(0.5)).cast("long")).as("q"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos").cast("long").as("pos"),
          (col("q").cast("double") / (col("n") * lit(CentScale)).cast("double"))
            .as("c"),
          col("n")))
  )

  val oracle: Map[String, String] = Map(
    "ann_brute_topk" -> s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
      scored AS (
        SELECT q.qid, e.vec_id, ${dotSql("q.qe", "e.embedding")} AS cos
        FROM q, embeddings e WHERE e.vec_id != q.qid),
      ranked AS (
        SELECT qid, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT qid, vec_id AS nn_id, CAST(rnk AS BIGINT) AS rnk,
             ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rnk <= 3""",
    // Multi-probe candidates stated as a hamming-ball theta join —
    // semantically identical to the Spark side's probe-mask explode
    // (xor(qb, eb) has popcount <= r  <=>  eb is in qb's radius-r ball).
    "ann_lsh_topk" -> s"""
      WITH $bandsCteSql,
      q AS (SELECT vec_id AS qid, embedding AS qe,
                   ${(0 until Bands).map(b => s"b$b AS qb$b").mkString(", ")}
            FROM sigs WHERE vec_id < $NQueries),
      cand AS (
        SELECT DISTINCT q.qid, e.vec_id AS nn_id
        FROM q JOIN sigs e ON e.vec_id != q.qid AND (
          ${(0 until Bands).map(b => s"bit_count(xor(q.qb$b, e.b$b)) <= $ProbeRadius").mkString(" OR ")})),
      scored AS (
        SELECT c.qid, c.nn_id, ${dotSql("q.qe", "e.embedding")} AS cos
        FROM cand c JOIN q ON q.qid = c.qid
        JOIN embeddings e ON e.vec_id = c.nn_id),
      ranked AS (
        SELECT qid, nn_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id) AS rnk
        FROM scored)
      SELECT qid, nn_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cos_sim
      FROM ranked WHERE rnk <= 3""",
    // Mirrors the Spark plan constant-for-constant: fixed-point integer
    // centroid sums, index-ordered centroid-dot folds, same tie-breaks.
    "ann_ivf_topk" -> ivfLabelTopkSql,
    // The persisted-index face serves the IDENTICAL results from the
    // cell-partitioned artifact — one oracle definition for both.
    "ann_ivf_persisted_topk" -> ivfLabelTopkSql,
    // the retention serving contract: the corpus restriction stated
    "ann_ivf_persisted_retain_topk" -> ivfRetainTopkSql,
    "vec_kmeans_assign" -> s"""
      WITH ${kmCtesSql()}
      SELECT vec_id, CAST(kcell AS BIGINT) AS cell FROM kmranked WHERE crn = 1""",
    "ann_ivf_kmeans_topk" -> kmIvfTopkSql(sampled = false),
    // The sampled-training face: identical chain with the Lloyd
    // rounds' CTEs reading the ktrain subsample (kmCtesSql mirrors
    // kmTrainSample's LCG-bucket predicate); assignment, probing and
    // the exact tail stay full-corpus (one kmIvfTopkSql definition).
    "ann_ivf_kmeans_sampled_topk" -> kmIvfTopkSql(sampled = true),
    "dedup_embedding" -> s"""
      WITH $dedupScoredCtes
      SELECT da, db, ROUND(cos, 6) AS cos_sim FROM scored WHERE cos >= $DedupCos""",
    // Transitive closure of the near-dup pairs (same CTEs as
    // dedup_embedding), component labeled by its smallest member — the
    // unique fixpoint the Spark min-propagation loop converges to.
    "dedup_clusters" -> s"""
      WITH RECURSIVE $dedupScoredCtes,
      pairs AS (SELECT da, db FROM scored WHERE cos >= $DedupCos),
      e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON e2.a = r.b)
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a""",
    // Same candidate CTEs as dedup_embedding; mutuality as a self-join
    // of the top-K list with its reversal.
    "vec_knn_graph" -> s"""
      WITH $dedupScoredCtes,
      edges AS (SELECT da, db, cos FROM scored
                UNION ALL SELECT db AS da, da AS db, cos FROM scored),
      ranked AS (
        SELECT da, db, cos,
               ROW_NUMBER() OVER (PARTITION BY da ORDER BY cos DESC, db) AS rnk
        FROM edges),
      topk AS (SELECT da, db, cos FROM ranked WHERE rnk <= $KnnK)
      SELECT f.da, f.db, ROUND(f.cos, 6) AS cos_sim
      FROM topk f JOIN topk b ON b.da = f.db AND b.db = f.da
      WHERE f.da < f.db""",
    // Same quantization arithmetic as vec_quantize, sliced per
    // subspace; integer L2² folds left-to-right (exact), argmin via
    // the ranked window with the identical (dist, code_id) tie-break.
    "vec_pq_codes" -> s"""
      WITH ${pqCtesSql()}
      SELECT vec_id, CAST(sub_id AS BIGINT) AS sub_id, code_id AS code, dist
      FROM pqranked WHERE rnk = 1""",
    // Same PQ CTEs; the LUT is the q-side × codebook distance matrix,
    // the scan side is the assigned codes, ADC = per-(qid, vec) sum of
    // looked-up terms, top-3 by (adist, vec_id).
    "ann_pq_adc_topk" -> s"""
      WITH ${pqCtesSql()},
      $adcCodesLutSql,
      adist AS (
        SELECT l.qid, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adist
        FROM codes c JOIN lut l ON l.sub_id = c.sub_id AND l.code = c.code
        WHERE c.vec_id != l.qid
        GROUP BY 1, 2),
      rankedq AS (
        SELECT qid, vec_id, adist,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adist, vec_id) AS rnk
        FROM adist)
      SELECT qid, vec_id AS nn_id, CAST(rnk AS BIGINT) AS rnk, adist
      FROM rankedq WHERE rnk <= 3""",
    // IVFADC: the PQ CTEs compose with the IVF cell CTEs — codes of
    // vectors in a query's probed cells flow through the same LUT sum
    // and ranked top-3 as ann_pq_adc_topk; everything else is pruned
    // by the probed-cell join before any distance work.
    "ann_ivfpq_topk" -> ivfpqLabelTopkSql,
    // The persisted-code-store face serves the identical result from
    // the cell-partitioned packed-code artifact, so the two rows pin
    // each other: an artifact that drifts from the in-plan codes
    // hash-mismatches, not just slows down (the ann_ivf_persisted_topk
    // device, applied to the ADC family).
    "ann_ivfpq_persisted_topk" -> ivfpqLabelTopkSql,
    // per-cell compaction is content-preserving, so the compacted
    // store serves ann_ivfpq_topk's results verbatim
    "ann_ivfpq_persisted_compact_topk" -> ivfpqLabelTopkSql,

    // The fully unsupervised stack's oracle: the k-means training CTEs
    // replace the label-cell CTEs, assignment/probes read kmranked,
    // and the ADC chain is the shared module text — exactly the Spark
    // side's quantizer-agnostic split.
    "ann_ivfpq_kmeans_topk" -> s"""
      WITH ${pqCtesSql(k = IvfPqK)},
      ${kmCtesSql()},
      ${ivfAssignProbeSql("kmranked", "kcell")},
      $adcCodesLutSql,
      $adcDistSql,
      $adcTopkTailSql""",

    // The sampled-trainer stack's oracle: identical chain with the
    // Lloyd CTEs reading the ktrain subsample.
    "ann_ivfpq_kmeans_sampled_topk" -> s"""
      WITH ${pqCtesSql(k = IvfPqK)},
      ${kmCtesSql(sampled = true)},
      ${ivfAssignProbeSql("kmranked", "kcell")},
      $adcCodesLutSql,
      $adcDistSql,
      $adcTopkTailSql""",

    // ann_ivfpq_topk's CTE chain with the shortlist cut at RefineR,
    // then the exact-cosine re-rank (the same dotSql fold as
    // ann_brute_topk) — statement-for-statement the Spark plan.
    "ann_ivfpq_refine" -> s"""
      WITH ${pqCtesSql(k = IvfPqK)},
      $ivfCellCtesSql,
      ${ivfAssignProbeSql("ranked_cells", "clabel")},
      $adcCodesLutSql,
      $adcDistSql,
      short AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY adist, vec_id) AS rnk
          FROM adist) r WHERE rnk <= $RefineR),
      rescored AS (
        SELECT s.qid, s.vec_id, ${dotSql("qe.embedding", "e.embedding")} AS cos
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id
        JOIN embeddings qe ON qe.vec_id = s.qid),
      rankedr AS (
        SELECT qid, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rnk
        FROM rescored)
      SELECT qid, vec_id AS nn_id, CAST(rnk AS BIGINT) AS rnk,
             ROUND(cos, 6) AS cos_sim
      FROM rankedr WHERE rnk <= 3""",

    // SemDeDup: the shared IVF cell CTEs give each vector its cell and
    // centroid similarity (crn = 1 row of ranked_cells); within-cell
    // pairs at cos >= the threshold, dominance on the (adot, vec_id)
    // row key — mirroring the Spark struct comparison exactly.
    "dedup_semdedup" -> s"""
      WITH $ivfCellCtesSql,
      assigned AS MATERIALIZED (
        SELECT s.vec_id, s.clabel AS cell, s.adot, e.embedding
        FROM scored_cells s
        JOIN ranked_cells r ON r.vec_id = s.vec_id AND r.clabel = s.clabel
                           AND r.crn = 1
        JOIN embeddings e ON e.vec_id = s.vec_id),
      sdropped AS (
        SELECT DISTINCT b.vec_id AS vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id != b.vec_id
          AND (a.adot, a.vec_id) < (b.adot, b.vec_id)
        WHERE ${dotSql("a.embedding", "b.embedding")} >= $DedupCos)
      SELECT s.vec_id, s.cell, ROUND(s.adot, 6) AS cent_sim,
             CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM assigned s LEFT JOIN sdropped d ON d.vec_id = s.vec_id""",

    // The trained-quantizer face: kmCtesSql's Lloyd chain, assignment
    // from kmranked at crn = 1, prototypicality = the index-ordered
    // dot with the TRAINED centroid (karr is double, embedding widens
    // — exactly the Spark side's cdot), then the identical sdropped /
    // kept tail as dedup_semdedup. ONE definition for both training
    // regimes — the sampled face differs only in the Lloyd CTEs'
    // training set (the kmIvfTopkSql device).
    "dedup_semdedup_kmeans" -> semdedupKmeansSql(sampled = false),
    "dedup_semdedup_kmeans_sampled" -> semdedupKmeansSql(sampled = true),

    // The multi-probe knob's oracle: same assigned CTE (primary cell +
    // dominance key), probe lists from ranked_cells at crn <= 2, the
    // dominated member selected per ordered pair (orientation-
    // independent CASE — mirroring the Spark when/otherwise exactly).
    "dedup_semdedup_probe2" -> s"""
      WITH $ivfCellCtesSql,
      assigned AS MATERIALIZED (
        SELECT s.vec_id, s.clabel AS cell, s.adot, e.embedding
        FROM scored_cells s
        JOIN ranked_cells r ON r.vec_id = s.vec_id AND r.clabel = s.clabel
                           AND r.crn = 1
        JOIN embeddings e ON e.vec_id = s.vec_id),
      probes AS (
        SELECT vec_id, clabel AS cell FROM ranked_cells WHERE crn <= 2),
      sdropped AS (
        SELECT DISTINCT CASE WHEN (a.adot, a.vec_id) < (b.adot, b.vec_id)
                             THEN b.vec_id ELSE a.vec_id END AS vec_id
        FROM probes p
        JOIN assigned a ON a.vec_id = p.vec_id
        JOIN assigned b ON b.cell = p.cell AND b.vec_id != a.vec_id
        WHERE ${dotSql("a.embedding", "b.embedding")} >= $DedupCos)
      SELECT s.vec_id, s.cell, ROUND(s.adot, 6) AS cent_sim,
             CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM assigned s LEFT JOIN sdropped d ON d.vec_id = s.vec_id""",

    // Same mutual-kNN CTEs as vec_knn_graph, then PrIters unrolled
    // power iterations; the per-node contribution fold is sorted
    // (bit-identical to the Spark side's array_sort + aggregate).
    "vec_knn_pagerank" -> {
      // MATERIALIZED throughout: without it DuckDB inlines every g /
      // deg / r_{k-1} reference, re-expanding the whole LSH subtree
      // per iteration — exponential memory, observed OOM.
      val iters = (1 to PrIters).map { k =>
        s"""c$k AS MATERIALIZED (
        SELECT g.dst AS id, r${k - 1}.r / deg.outdeg AS contrib
        FROM g JOIN r${k - 1} ON g.src = r${k - 1}.id
        JOIN deg ON g.src = deg.src),
      r$k AS MATERIALIZED (
        SELECT c$k.id,
               0.15 / CAST(nn.n AS DOUBLE) + 0.85 *
                 list_reduce(list_prepend(0.0, list_sort(list(contrib))),
                             (a, x) -> a + x) AS r
        FROM c$k, nn GROUP BY c$k.id, nn.n)"""
      }.mkString(",\n      ")
      s"""
      WITH $dedupScoredCtes,
      kedges AS (SELECT da, db, cos FROM scored
                 UNION ALL SELECT db AS da, da AS db, cos FROM scored),
      kranked AS (
        SELECT da, db,
               ROW_NUMBER() OVER (PARTITION BY da ORDER BY cos DESC, db) AS rnk
        FROM kedges),
      ktopk AS MATERIALIZED (SELECT da, db FROM kranked WHERE rnk <= $KnnK),
      mutual AS (
        SELECT f.da, f.db FROM ktopk f
        JOIN ktopk b ON b.da = f.db AND b.db = f.da
        WHERE f.da < f.db),
      g AS MATERIALIZED (SELECT da AS src, db AS dst FROM mutual
            UNION ALL SELECT db AS src, da AS dst FROM mutual),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM g GROUP BY src),
      nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
      r0 AS MATERIALIZED (SELECT src AS id, 1.0 / CAST(nn.n AS DOUBLE) AS r FROM deg, nn),
      $iters
      SELECT id AS vec_id, ROUND(r, 6) AS pr FROM r$PrIters"""
    },
    "vec_quantize" -> """
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
             CASE WHEN scale > 0
                  THEN CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS qv,
             scale
      FROM (SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
            FROM embeddings),
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t""",
    "vec_rp_project" -> s"""
      WITH q AS (
        SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
               CASE WHEN scale > 0
                    THEN CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT)
                    ELSE 0 END AS qv
        FROM (SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
              FROM embeddings),
             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t),
      pj AS (SELECT unnest(range(0, $NProj)) AS proj_id)
      SELECT vec_id, CAST(proj_id AS BIGINT) AS proj_id,
        CAST(SUM(qv * (CASE WHEN (${Portable.lcgSql(s"(proj_id * $Dim + pos + 1)")}
                                  // 65536) % 2 = 0
                            THEN 1 ELSE -1 END)) AS BIGINT) AS p
      FROM q CROSS JOIN pj
      GROUP BY vec_id, proj_id""",
    "vec_label_centroid" -> s"""
      SELECT label, CAST(i - 1 AS BIGINT) AS pos,
             CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * ${CentScale}.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * $CentScale AS DOUBLE) AS c,
             COUNT(*) AS n
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
      GROUP BY label, i"""
  )
}
