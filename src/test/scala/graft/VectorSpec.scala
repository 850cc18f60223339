package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Specs for the native vector expressions: interpreted eval vs codegen
  * parity, left-to-right accumulation order, and signature banding.
  */
class VectorSpec extends GraftSpec {
  import spark.implicits._

  private val W = Array.tabulate(4, 3)((j, i) => (j + 1) * (i + 1) - 2)

  test("FloatDotProduct matches a hand left-to-right accumulation") {
    val x = Seq(0.25f, -1.5f, 3.0f)
    val y = Seq(2.0f, 0.5f, -0.125f)
    val expected = x.zip(y).foldLeft(0.0) { case (a, (xi, yi)) =>
      a + xi.toDouble * yi.toDouble
    }
    val got = Seq((x, y)).toDF("x", "y")
      .select(VectorFunctions.dotF(col("x"), col("y")).as("d"))
      .head().getDouble(0)
    assert(got === expected)
  }

  test("LongArrayL2 matches the fold on valid input; NULL on null element or length mismatch") {
    // The NULL contract mirrors the zip_with+aggregate HOF the kernel
    // replaced: a null element poisons the sum, zip_with's null
    // padding poisons a length mismatch — both must surface as NULL,
    // never as a wrong-but-plausible distance.
    val rows = Seq(
      (0, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),
      (1, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, null)),
      (2, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L))
    ).toDF("i", "x", "y")
      .select(col("i"), VectorFunctions.longL2(col("x"), col("y")).as("d"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows(0) === Some(8L)) // (1-3)^2 + (2-4)^2
    assert(rows(1) === None)
    assert(rows(2) === None)
  }

  test("kernels reject wrong element types at analysis time") {
    // The loops read raw fixed-width slots (getFloat/getLong); before
    // the ExpectsInputTypes declaration an array<int> input returned
    // garbage instead of failing (ADVICE r11). Misuse must now be an
    // analysis error, never a wrong-but-plausible number.
    val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("x", "y")
    intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(VectorFunctions.longL2(col("x"), col("y"))).head()
    }
    val doubles = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("x", "y")
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(VectorFunctions.dotF(col("x"), col("y"))).head()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(VectorFunctions.hyperplaneSig(col("x"), W)).head()
    }
  }

  test("FloatDotProduct null-safe on null arrays") {
    val df = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]]))
      .toDF("x", "y")
    assert(df.select(VectorFunctions.dotF(col("x"), col("y"))).head().isNullAt(0))
  }

  test("HyperplaneSignature sets bit j iff weighted sum positive") {
    // weights row j = [(j+1)*1-2, (j+1)*2-2, (j+1)*3-2]
    val v = Seq(1.0f, 0.0f, 0.0f)
    val expected = (0 until 4).map { j =>
      if (W(j)(0) * 1.0 > 0) 1L << j else 0L
    }.sum
    val got = Seq(Tuple1(v)).toDF("v")
      .select(VectorFunctions.hyperplaneSig(col("v"), W).as("s"))
      .head().getLong(0)
    assert(got === expected)
  }

  test("LSH candidate set is sublinear in the pair space and non-empty") {
    val d = "/root/testdata/sf0.01"
    val n = graft.Tables.embeddings(spark, d).count()
    val cand = graft.queries.VectorQueries.annCandidates(spark, d).count()
    val pairSpace = 100 * (n - 1) // 100 queries x full corpus = brute force
    assert(cand > 0, "banded candidates must exist")
    assert(cand < pairSpace / 5,
      s"multi-probe candidates ($cand) must stay well under brute-force ($pairSpace)")
  }

  private def annPairs(q: String, d: String): Set[(Long, Long)] =
    graft.queries.VectorQueries.queries(q)(spark, d)
      .select(col("qid"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ANN recall@3 vs the exact brute-force baseline (gate corpus)") {
    // The quality gate the sublinearity spec doesn't cover: how much of
    // the true top-3 the approximate paths recover. This corpus has NO
    // planted near-duplicates (max pairwise cosine ~0.46), so the true
    // "neighbors" sit at theta ~65-75 degrees, where random-hyperplane
    // bits match with p = 1 - theta/pi ~ 0.6 and a 16-bit band lands in
    // the hamming-2 probe ball with prob ~5% — expected 4-band recall
    // ~0.2. That IS the designed behavior: LSH trades recall on
    // far-apart points for sublinear candidates; genuinely-near pairs
    // (what dedup cares about) are covered by the planted spec below.
    // Floors are set just under the measured values to catch
    // regressions in banding/probing logic, not to promise more than
    // the math does.
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    assert(brute.nonEmpty)
    val lshRecall = annPairs("ann_lsh_topk", d).intersect(brute).size.toDouble / brute.size
    val ivfRecall = annPairs("ann_ivf_topk", d).intersect(brute).size.toDouble / brute.size
    info(s"gate-corpus recall@3: lsh=$lshRecall ivf=$ivfRecall")
    assert(lshRecall >= 0.15, s"LSH recall@3 $lshRecall below floor")
    assert(ivfRecall >= 0.30, s"IVF recall@3 $ivfRecall below floor")
  }

  /** Plant 20 near-copies of the first 20 sf0.01 vectors (vec_id
    * 100000+q, same label, perturbed by `noise` then renormalized)
    * into a fixture corpus at tmpDir(`outName`); returns the dir. ONE
    * definition for the four planted-fixture tests (code-review r13:
    * four verbatim copies had grown — the drift the repo's
    * one-definition convention exists to prevent).
    */
  private def plantNearCopies(outName: String, seed: Int, noise: Float): String = {
    val d = "/root/testdata/sf0.01"
    val out = tmpDir(outName)
    val orig = graft.Tables.embeddings(spark, d)
    val rnd = new scala.util.Random(seed)
    val planted = orig.filter(col("vec_id") < 20).collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).toArray
      val noisy = v.map(x => x + noise * (rnd.nextFloat() - 0.5f))
      val norm = math.sqrt(noisy.map(x => x.toDouble * x).sum).toFloat
      (100000L + r.getLong(r.fieldIndex("vec_id")),
        noisy.map(_ / norm).toSeq,
        r.getInt(r.fieldIndex("label")))
    }.toSeq
    orig.unionByName(planted.toDF("vec_id", "embedding", "label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  test("ANN finds planted near-duplicates (the real LSH/IVF contract)") {
    // Build a corpus with KNOWN near neighbors: for each of the first
    // 20 query ids, plant a copy perturbed to cosine ~0.99 (new vec_id
    // 100000+qid, same label). At theta ~8 degrees the per-bit match
    // prob is ~0.97, a 16-bit band matches within hamming 2 with prob
    // ~0.99, and ANY of 4 bands matching suffices — so LSH must
    // recover essentially all planted pairs; IVF assigns the copy to
    // its original's cell, which the query probes first.
    val out = plantNearCopies("planted-emb", seed = 42, noise = 0.08f)
    val expected = (0L until 20L).map(q => (q, 100000L + q)).toSet
    val lshHit = annPairs("ann_lsh_topk", out).intersect(expected).size
    val ivfHit = annPairs("ann_ivf_topk", out).intersect(expected).size
    // IVFADC too: a near-copy shares (or nearly shares) its original's
    // PQ codes AND its IVF cell, so the composed query must surface it
    // even though its random-point recall is codebook-bound at ~0.13 —
    // near-DUPLICATE retrieval is what the compressed index is for.
    val ivfpqHit = annPairs("ann_ivfpq_topk", out).intersect(expected).size
    info(s"planted near-dup recall: lsh=$lshHit/20 ivf=$ivfHit/20 ivfpq=$ivfpqHit/20")
    assert(lshHit >= 19, s"LSH found only $lshHit/20 planted near-dups")
    assert(ivfHit >= 19, s"IVF found only $ivfHit/20 planted near-dups")
    assert(ivfpqHit >= 19, s"IVFADC found only $ivfpqHit/20 planted near-dups")
  }

  test("vec_knn_graph: planted near-dup pairs are mutual edges; output is a clean edge set") {
    // Same planted construction as the recall test but tighter copies
    // (cosine ~0.998): the kNN graph's candidates come from EXACT band
    // equality (the corpus-corpus trade — no multi-probe blow-up), and
    // a 16-bit band matches a theta~8-degree pair with only p~0.48 per
    // band / ~0.93 over 4 bands. At theta~4 degrees the any-band hit
    // rate is ~0.99, which is the contract this operator makes: graph
    // edges for NEAR-DUPLICATES, not for merely-similar pairs (those
    // are the query-side multi-probe ANN's job). Background max
    // pairwise cosine is ~0.46, so each planted pair is its endpoints'
    // mutual top-1.
    val out = plantNearCopies("knn-emb", seed = 7, noise = 0.03f)
    val edges = graft.queries.VectorQueries.queries("vec_knn_graph")(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.forall { case (a, b) => a < b }, "edges are canonical a < b")
    assert(edges.distinct.length === edges.length, "no duplicate edges")
    val expected = (0L until 20L).map(q => (q, 100000L + q)).toSet
    val hit = edges.toSet.intersect(expected).size
    info(s"planted mutual-edge recall: $hit/20")
    assert(hit >= 19, s"mutual kNN graph kept only $hit/20 planted pairs")
  }

  test("vec_rp_project: 8 bounded integer coords per vector, distance-correlated") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.VectorQueries.queries("vec_rp_project")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nVecs = Tables.embeddings(spark, d).count()
    assert(rows.length === nVecs * 8, "8 projections per vector")
    assert(rows.forall { case (_, j, p) => j >= 0 && j < 8 && math.abs(p) <= 127L * 64 })
    assert(rows.exists(_._3 != 0L), "projections must carry signal")
    // JL sanity on a fixed slice: identical inputs project identically,
    // and the projected L2 of a vector correlates with its quantized L2
    // (> 0 rank correlation over 50 vectors is a weak but sufficient
    // smoke bound for an 8-dim projection).
    val projNorm = rows.groupBy(_._1).view
      .mapValues(_.map(x => x._3.toDouble * x._3).sum).toMap
    val qNorm = graft.queries.VectorQueries.queries("vec_quantize")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(x => x._2.toDouble * x._2).sum).toMap
    val sample = projNorm.keys.toSeq.sorted.take(50)
    val byProj = sample.sortBy(projNorm)
    val byQ = sample.sortBy(qNorm)
    // Spearman-ish: average absolute rank displacement must beat random
    val rankQ = byQ.zipWithIndex.toMap
    val disp = byProj.zipWithIndex.map { case (id, r) =>
      math.abs(r - rankQ(id)) }.sum.toDouble / sample.length
    assert(disp < sample.length / 3.0,
      s"projected norms uncorrelated with input norms (mean displacement $disp)")
  }

  test("pagerank conserves rank mass and stays positive on the mutual-kNN graph") {
    val d = "/root/testdata/sf0.001"
    val pr = graft.queries.VectorQueries.queries("vec_knn_pagerank")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.nonEmpty)
    assert(pr.values.forall(_ > 0.0), "every node holds positive rank")
    // symmetric graph, no dangling nodes: total rank mass is invariant
    // at 1.0 across iterations (up to the output rounding)
    assert(math.abs(pr.values.sum - 1.0) < 1e-3 * pr.size,
      s"rank mass drifted: ${pr.values.sum} over ${pr.size} nodes")
  }

  test("PQ codes: trained codebook beats the seed codebook's distortion, codes in range") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.VectorQueries.queries("vec_pq_codes")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, sub, code, dist) =>
      sub >= 0 && sub < 8 && code >= 0 && code < 16 && dist >= 0 })
    // every vector is assigned in every subspace (no dropped cells)
    assert(rows.groupBy(_._1).values.forall(_.length == 8))
    // Lloyd refinement must not WORSEN total distortion vs assigning
    // to the raw seed codebook (the training claim, measured ~18%
    // better on this corpus; assert the direction, not the magnitude)
    val trained = rows.map(_._4).sum
    val subs = graft.queries.VectorQueries.pqSubs(spark, d)
    val seed = subs
      .join(broadcast(graft.queries.VectorQueries.pqSeedCodebook(subs)), "sub_id")
      .select(col("vec_id"), col("sub_id"),
        graft.queries.VectorQueries.pqL2(col("sq"), col("cq")).as("dist"))
      .groupBy(col("vec_id"), col("sub_id")).agg(min(col("dist")).as("d"))
      .agg(sum(col("d"))).collect().head.getLong(0)
    assert(trained <= seed, s"trained distortion $trained exceeds seed $seed")
  }

  test("PQ training: distortion non-increasing across Lloyd rounds 0..3") {
    // The training knob's contract (and the reason the knob defaults to
    // rounds=1 anyway): each round's assign+update must not increase
    // total assigned distortion — integer-floored means shift each
    // centroid < 1 per dim from the true minimizer, not enough to
    // regress the objective on this corpus (measured at sf0.01:
    // 59.2M → 47.8M → 45.7M → 44.7M). Recall@3, separately measured,
    // does NOT improve past round 1 (0.130 → 0.113): a PqK=16 codebook
    // is recall-bound by its size, which is why more training is not
    // shipped as the default.
    val d = "/root/testdata/sf0.001"
    val subs = graft.queries.VectorQueries.pqSubs(spark, d).localCheckpoint()
    val dist = (0 to 3).map { r =>
      graft.queries.VectorQueries
        .pqAssign(subs, graft.queries.VectorQueries.pqCodebook(subs, r))
        .agg(sum(col("dist"))).head.getLong(0)
    }
    info(s"distortion by rounds: ${dist.mkString(" -> ")}")
    dist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"distortion increased across a Lloyd round: $dist")
    }
  }

  test("PQ codebook shape is PqM x PqK invariant (empty codewords preserved)") {
    // From round 2 on, codewords can legitimately attract no members
    // (the updated codebook no longer self-assigns its seeds at
    // distance 0); the left-join + coalesce must keep them at their
    // previous centroid rather than dropping them from the trained
    // codebook.
    val d = "/root/testdata/sf0.001"
    val subs = graft.queries.VectorQueries.pqSubs(spark, d).localCheckpoint()
    (0 to 3).foreach { r =>
      val n = graft.queries.VectorQueries.pqCodebook(subs, r).count()
      assert(n === 8L * 16L, s"codebook at rounds=$r has $n rows, want 128")
    }
  }

  test("k-means coarse quantizer: distortion non-increasing across Lloyd rounds 0..3") {
    // The Lloyd objective's contract for the UNSUPERVISED coarse
    // quantizer (vec_kmeans_assign / ann_ivf_kmeans_topk): each
    // assign + integer-exact-mean round must not increase total
    // assigned distortion. Fixed-point means shift each centroid
    // component < 2^-24 from the true minimizer — not enough to
    // regress the objective on this corpus (measured at sf0.01:
    // 791.5 → 466.0 → 461.8 → 459.7, kmDistortionOf per round).
    val d = "/root/testdata/sf0.001"
    val tables = graft.queries.VectorQueries.kmCentroidTables(spark, d, 3)
    val dist = tables.map(c =>
      graft.queries.VectorQueries.kmDistortionOf(spark, d, c)
        .head.getDouble(0))
    info(s"distortion by rounds: ${dist.mkString(" -> ")}")
    dist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"distortion increased across a Lloyd round: $dist")
    }
  }

  test("farthest-point seeding: distinct deterministic seeds, the Lloyd contract holds, and the measured default stands") {
    // The MEASURED seeding knob (KmSeed doc): Gonzalez farthest-point
    // traversal as the alternative to first-K. Pins (a) determinism —
    // two walks produce the identical seed table; (b) geometry — the
    // seed set is KmCells distinct points (Gonzalez is only a
    // 2-approximation of max-min dispersion, so spread vs first-K is
    // recorded informationally, not asserted — code-review r15);
    // (c) the Lloyd non-increase contract holds from this seed too.
    val d = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val t1 = vq.kmCentroidTables(spark, d, 2, seed = "farthest")
    val t2 = vq.kmCentroidTables(spark, d, 2, seed = "farthest")
    def seedRows(t: Seq[vq.Quantizer]) =
      t.head.cents.collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1).toVector).sortBy(_._1).toVector
    val s1 = seedRows(t1)
    assert(s1 === seedRows(t2), "farthest seed walk must be deterministic")
    assert(s1.map(_._2).distinct.size === vq.KmCells,
      "farthest seeds must be distinct points")
    def minPairL2(rows: Vector[(Long, Vector[Double])]): Double =
      (for {
        (a, i) <- rows.zipWithIndex; (b, j) <- rows.zipWithIndex if i < j
      } yield a._2.zip(b._2).map { case (x, y) => (x - y) * (x - y) }.sum).min
    val firstK = seedRows(vq.kmCentroidTables(spark, d, 0))
    info(f"min pairwise L2²: farthest=${minPairL2(s1)}%.4f " +
      f"firstK=${minPairL2(firstK)}%.4f")
    val dist = t1.map(c =>
      vq.kmDistortionOf(spark, d, c).head.getDouble(0))
    info(s"farthest-seed distortion by rounds: ${dist.mkString(" -> ")}")
    dist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"distortion increased across a Lloyd round: $dist")
    }
    assert(vq.KmSeed === "first",
      "registered default is the measured winner (KmSeed doc) — " +
        "changing it requires re-measuring the seed grid AND the oracles")
  }

  test("k-means centroid table is KmCells rows at any round count (empty cells preserved)") {
    // A cell that attracts no members keeps its previous centroid via
    // the left-join + coalesce (the pqCodebook device) — the quantizer
    // shape is training-invariant, so probe geometry never changes
    // under retraining.
    val d = "/root/testdata/sf0.001"
    graft.queries.VectorQueries.kmCentroidTables(spark, d, 3)
      .zipWithIndex.foreach { case (c, r) =>
        val n = c.cents.count()
        assert(n === graft.queries.VectorQueries.KmCells.toLong,
          s"centroid table at rounds=$r has $n rows")
      }
  }

  test("per-row arrival rank agrees with the batch assignment and probe lists under both quantizers") {
    // The streaming faces (probe lists, admission, ingest, k-means sums)
    // rank cells per row; the batch faces assign with an aggregate and
    // probe with a window. Their oracle parity rests on the two paths
    // agreeing: slice 1 of the per-row rank is the batch-assigned cell
    // of every vector, and slices 1..NProbe are exactly the batch probe
    // list of every query — on the label-mean and the Lloyd cells.
    val d = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val e = graft.Tables.embeddingsSpread(spark, d)
    for ((name, q) <- Seq("label-mean" -> vq.Quantizer.labelMeans(spark, d),
                          "lloyd" -> vq.Quantizer.lloyd(spark, d))) {
      val ranked = q.ranked(e, col("embedding"), vq.NProbe)
        .select(col("vec_id"),
          transform(col("cells"), c => c.getField("cell").cast("long")).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val assigned = q.assigned(e)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(assigned.nonEmpty && ranked.keySet === assigned.keySet,
        s"$name: the rank must cover every assigned vector")
      assigned.foreach { case (v, c) =>
        assert(ranked(v).head === c,
          s"$name: vector $v ranks cell ${ranked(v).head} first, batch-assigned $c")
      }
      val probes = q.probes(q.scored(e), vq.NProbe)
        .select(col("qid"), col("cell").cast("long"))
        .collect().groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      assert(probes.size === vq.NQueries, s"$name: every query probes")
      probes.foreach { case (qid, cells) =>
        assert(ranked(qid).size === vq.NProbe && ranked(qid).toSet === cells,
          s"$name: query $qid ranks ${ranked(qid)}, batch probes $cells")
      }
    }
  }

  test("trained k-means cells beat the supervised label cells at the same NProbe (gate corpus)") {
    // The reason the unsupervised face exists: at the IDENTICAL
    // pruning fraction (NProbe of KmCells = 10 cells), cells trained
    // on the embedding geometry recover more true neighbors than the
    // synthetic label partition (measured 0.633 vs 0.533 recall@3 at
    // sf0.01 — the KmRounds doc). Everything is deterministic
    // arithmetic, so the comparison is exact, not statistical.
    val d = "/root/testdata/sf0.01"
    def pairs(q: String): Set[(Long, Long)] =
      graft.queries.VectorQueries.queries(q)(spark, d)
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("ann_brute_topk")
    val km = pairs("ann_ivf_kmeans_topk").intersect(brute).size
    val lbl = pairs("ann_ivf_topk").intersect(brute).size
    info(s"recall@3 x |brute|: kmeans=$km label=$lbl of ${brute.size}")
    assert(km > lbl,
      s"trained cells ($km) should beat label cells ($lbl) on the gate corpus")
  }

  test("online IVF serving: recall@3 floor vs brute, drift-gated staleness cost bounded") {
    // The quality claim on the online-serving surface MEASURED, not
    // argued (r15 verdict Next #2): each batch's queries are served
    // exactly once, in their arrival batch, under that batch's
    // quantizer generation — recall@3 is the union of served pairs vs
    // the exact brute-force top-3 over the same queries. And the
    // drift gate (Next #1): on this corpus the rebuild sequence must
    // be the measured MIXED one — the batch-1 rebuild (first MacQueen
    // jump), batch 2 SKIPPED (served from the stale generation-1
    // lists), and the batch-3 rebuild triggered by drift ACCUMULATED
    // across the skip (d(3,1) > threshold though d(3,2) is not — the
    // production trigger) — with the staleness recall cost bounded:
    // measured 0.5567 drift-gated vs 0.5633 always-rebuild at sf0.01
    // (2 of 300 brute pairs lost to one stale epoch).
    val d = "/root/testdata/sf0.01"
    val nb = graft.queries.VectorQueries.KmMbBatches
    def batch(r: Int) = graft.Tables.embeddings(spark, d)
      .filter(col("vec_id") % nb === r)
    def served(drift: Boolean): (Set[(Long, Long)], Seq[Long]) = {
      val vq = graft.queries.VectorQueries
      val st = new vq.KmIvfGenerations(spark, d,
        if (drift) vq.KmDriftRebuild else vq.KmRebuildAlways,
        new vq.KmLists(spark, d))
      for (r <- 0 until nb) st.step(batch(r), r.toLong)
      val p = st.servedTopkResult().select(col("qid"), col("nn_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (p, st.rebuildLog)
    }
    val brute = annPairs("ann_brute_topk", d)
    val (full, fullLog) = served(drift = false)
    val (stale, log) = served(drift = true)
    assert(fullLog === Seq(0L, 1L, 2L, 3L),
      s"the always-rebuild threshold must rebuild on every batch (got $fullLog)")
    assert(log === Seq(0L, 1L, 3L),
      s"drift gate's rebuild sequence drifted (got $log) — see the " +
        "measured decision curve in the KmDriftRebuild doc before moving it")
    val fr = full.intersect(brute).size.toDouble / brute.size
    val dr = stale.intersect(brute).size.toDouble / brute.size
    info(f"online recall@3: always-rebuild=$fr%.4f drift-gated=$dr%.4f " +
      s"rebuilds=${log.mkString(",")} of ${brute.size} brute pairs")
    assert(fr >= 0.5, s"always-rebuild online recall $fr below floor")
    assert(dr >= 0.5, s"drift-gated online recall $dr below floor")
    assert(dr >= fr - 0.05,
      f"staleness cost ${fr - dr}%.4f exceeds the bounded-regime claim")
    // PER-CELL incremental reindexing (the finer protocol): the moved
    // schedule on this corpus must be the measured PARTIAL one — the
    // 10-cell initial build, then 7/0/1 cells (re-assignment work a
    // fraction of always-rebuild's three full corpus passes) — the
    // patchwork lists must hold every vector exactly once, and recall
    // must stay within the same staleness bound.
    val si = new graft.queries.VectorQueries.KmIvfIncr(spark, d)
    for (r <- 0 until nb) si.step(batch(r), r.toLong)
    val movedCounts = si.movedCells.map(_.count())
    assert(movedCounts === Seq(10L, 7L, 0L, 1L),
      s"incremental moved-cell schedule drifted (got $movedCounts) — " +
        "see the measured decision curve in the KmDriftRebuild doc before moving it")
    val corpus = graft.Tables.embeddings(spark, d).count()
    val listRows = si.listsTable.select(col("nn_id")).collect().map(_.getLong(0))
    assert(listRows.length.toLong === corpus &&
      listRows.distinct.length.toLong === corpus,
      "patchwork lists must hold every vector exactly once")
    val ir = si.servedTopkResult().select(col("qid"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(brute).size.toDouble / brute.size
    info(f"incremental recall@3=$ir%.4f moved=${movedCounts.mkString(",")}")
    assert(ir >= 0.5, s"incremental online recall $ir below floor")
    assert(ir >= fr - 0.05,
      f"incremental staleness cost ${fr - ir}%.4f exceeds the bound")
  }

  test("persisted refresh gate: generation schedule pinned, recall floor vs arrived brute across the switch") {
    // The composed gate's quality pins (r16 verdict Next #1): the
    // generation schedule must be the drift gate's (same trainer, same
    // recurrence — rebuilds at 0, 1 and the drift-ACCUMULATED 3, with
    // batch 2 served by appending into the stale generation-1 store),
    // and recall@3 must hold a floor against the exact brute top-3
    // over the ARRIVED corpus per batch — including the batches right
    // after a generation switch, so a refresh that serves a torn or
    // stale artifact fails here even if it hashes (the oracle) and
    // prunes (PartitioningSpec).
    val d = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val nb = vq.KmMbBatches
    def batch(r: Int) = graft.Tables.embeddings(spark, d)
      .filter(col("vec_id") % nb === r)
    val st = new vq.KmIvfGenerations(spark, d, vq.KmDriftRebuild,
      new vq.KmGenStore(spark, d, vq.Codec.raw))
    // Each step's control work (MacQueen fold, drift decision) is
    // driver arithmetic over driver-held state; only data work runs as
    // Spark jobs. The budget is the heaviest step's count (measured
    // 14/16/15/16 with driver-held state).
    val stepJobs = (0 until nb).map { r =>
      org.apache.spark.graft.JobCount(spark.sparkContext) {
        st.step(batch(r), r.toLong)
      }._2
    }
    info(s"persisted-refresh jobs per step: ${stepJobs.mkString(", ")}")
    stepJobs.zipWithIndex.foreach { case (n, r) =>
      assert(n <= 16, s"persisted-refresh step $r ran $n Spark jobs, budget 16")
    }
    assert(st.rebuildLog === Seq(0L, 1L, 3L),
      s"refresh gate's generation schedule drifted (got ${st.rebuildLog})" +
        " — see the measured decision curve in the KmDriftRebuild doc before moving it")
    // centroid tables read back from their plan-side view and the drift
    // decision on them run no job at all
    val t = vq.kmCentroidTables(spark, d, 2)
    val (drift, driftJobs) = org.apache.spark.graft.JobCount(spark.sparkContext) {
      vq.kmDriftFp2(vq.kmCentsOf(t(2).cents), vq.kmCentsOf(t(1).cents))
    }
    assert(driftJobs === 0, s"the drift decision ran $driftJobs Spark jobs")
    assert(drift > 0L, "a Lloyd round should move some centroid")
    val served = st.servedTopkResult().select(col("qid"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact per-batch brute over the arrived corpus — the only fair
    // baseline (the store cannot contain vectors that have not
    // arrived); the shared definition behind the KmDriftRebuild sweep
    val perBatch = (0 until nb).map { r =>
      vq.arrivedBruteTopk(spark, d, r, nb)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    val recalls = perBatch.map(b =>
      served.intersect(b).size.toDouble / b.size)
    info(f"refresh per-batch recall@3 vs arrived brute: " +
      recalls.map(r => f"$r%.4f").mkString(", "))
    recalls.zipWithIndex.foreach { case (r, i) =>
      assert(r >= 0.4, f"batch $i recall $r%.4f below the per-batch floor")
    }
    val total = perBatch.reduce(_ union _)
    val overall = served.intersect(total).size.toDouble / total.size
    info(f"refresh overall recall@3 vs arrived brute: $overall%.4f")
    assert(overall >= 0.5, f"overall refresh recall $overall%.4f below floor")
  }

  test("PQ-code persisted refresh gate: generation schedule pinned, ADC recall floor across the switch") {
    // The composed CODE-store gate's quality pins (r17 verdict Next
    // #1): the generation schedule must equal the raw refresh twin's
    // (same trainer, same drift recurrence — rebuilds at 0, 1 and the
    // accumulated 3), and ADC recall@3 vs the exact brute top-3 over
    // the arrived corpus must hold a floor on every batch INCLUDING
    // the ones right after a generation switch. The floor sits below
    // the raw twin's 0.4/0.5 — PQ quantization distortion is the
    // known, measured cost of serving from the 32x-compressed
    // artifact (the same gap ann_ivfpq_topk carries vs ann_ivf_topk);
    // a torn or stale generation would crater recall far below it.
    // Measured at sf0.001: per-batch 0.2933/0.1867/0.2267/0.2667,
    // overall 0.2433 — the floors sit just under the weakest batch.
    val d = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val nb = vq.KmMbBatches
    def batch(r: Int) = graft.Tables.embeddings(spark, d)
      .filter(col("vec_id") % nb === r)
    val st = new vq.KmIvfGenerations(spark, d, vq.KmDriftRebuild,
      new vq.KmGenStore(spark, d, vq.Codec.pq(spark, d)))
    // The same per-step job budget as the raw twin, at the heaviest
    // step's count (measured 27/24/20/24; the first step also trains
    // the frozen codebook).
    val stepJobs = (0 until nb).map { r =>
      org.apache.spark.graft.JobCount(spark.sparkContext) {
        st.step(batch(r), r.toLong)
      }._2
    }
    info(s"PQ persisted-refresh jobs per step: ${stepJobs.mkString(", ")}")
    stepJobs.zipWithIndex.foreach { case (n, r) =>
      assert(n <= 27, s"PQ persisted-refresh step $r ran $n Spark jobs, budget 27")
    }
    assert(st.rebuildLog === Seq(0L, 1L, 3L),
      s"PQ refresh gate's generation schedule drifted (got ${st.rebuildLog})" +
        " — see the measured decision curve in the KmDriftRebuild doc before moving it")
    val served = st.servedTopkResult().select(col("qid"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val perBatch = (0 until nb).map { r =>
      vq.arrivedBruteTopk(spark, d, r, nb)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    val recalls = perBatch.map(b =>
      served.intersect(b).size.toDouble / b.size)
    info(f"PQ refresh per-batch ADC recall@3 vs arrived brute: " +
      recalls.map(r => f"$r%.4f").mkString(", "))
    recalls.zipWithIndex.foreach { case (r, i) =>
      assert(r >= 0.15, f"batch $i ADC recall $r%.4f below the per-batch floor")
    }
    val total = perBatch.reduce(_ union _)
    val overall = served.intersect(total).size.toDouble / total.size
    info(f"PQ refresh overall ADC recall@3 vs arrived brute: $overall%.4f")
    assert(overall >= 0.2, f"overall ADC refresh recall $overall%.4f below floor")
  }

  test("sample-based quantizer training: Lloyd objective still non-increasing, recall holds over the label cells") {
    // The FAISS max_points_per_centroid protocol implemented
    // SIZE-TARGETED (r14 verdict Next #1): the Lloyd rounds scan only
    // the deterministic LCG-bucket sample whose modulus is DERIVED
    // FROM THE CORPUS SIZE (ceil(n / (KmTrainPerCell·k)) — an
    // absolute ~250-point cap, not a fraction), full-corpus
    // assignment runs once. Two pins: (a) at THIS corpus (sf0.001,
    // modulus 2) the sampled loop's FULL-CORPUS distortion is still
    // non-increasing across rounds (at sf0.1's modulus 8 it may tick
    // up ~0.2%/round past round 1 — the sample's optimum is not the
    // corpus's; recall unaffected, see the registration doc); (b) at
    // the gate corpus the sample-trained quantizer still BEATS the
    // label cells it replaces at the identical NProbe pruning
    // fraction. Measured (recall@3 vs brute,
    // np=3): sf0.01 sampled 0.610 / full 0.633 / label 0.533 (250 of
    // 500 train); sf0.1 sampled 0.623 / full 0.623 / label 0.540
    // (250 of 2000 train — ties full training on 1/8 the points).
    val d = "/root/testdata/sf0.001"
    val tables = graft.queries.VectorQueries.kmCentroidTables(spark, d, 3,
      sampled = true)
    val dist = tables.map(c =>
      graft.queries.VectorQueries.kmDistortionOf(spark, d, c)
        .head.getDouble(0))
    info(s"sampled-training distortion by rounds: ${dist.mkString(" -> ")}")
    dist.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"distortion increased across a sampled Lloyd round: $dist")
    }
    val d01 = "/root/testdata/sf0.01"
    def pairs(q: String): Set[(Long, Long)] =
      graft.queries.VectorQueries.queries(q)(spark, d01)
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("ann_brute_topk")
    val sm = pairs("ann_ivf_kmeans_sampled_topk").intersect(brute).size
    val lbl = pairs("ann_ivf_topk").intersect(brute).size
    info(s"recall@3 x |brute|: sampled=$sm label=$lbl of ${brute.size}")
    assert(sm > lbl,
      s"sample-trained cells ($sm) should beat label cells ($lbl)")
    // (c) the SIZE-TARGETING claim itself: the training set stays
    // ~KmTrainPerCell·k points as the corpus grows 4× (sf0.001 n=500
    // → sf0.1 n=2000) — the property that makes training O(1) in
    // corpus size. An LCG bucket is near-uniform, so the realized
    // sample sits within ±50% of the cap at both scales.
    val cap = graft.queries.VectorQueries.KmTrainPerCell.toLong *
      graft.queries.VectorQueries.KmCells
    val nSmall = graft.queries.VectorQueries
      .kmTrainSampleOf(spark, d).count()
    val nLarge = graft.queries.VectorQueries
      .kmTrainSampleOf(spark, "/root/testdata/sf0.1").count()
    info(s"training-sample sizes: sf0.001=$nSmall sf0.1=$nLarge (cap=$cap)")
    for ((n, sf) <- Seq((nSmall, "sf0.001"), (nLarge, "sf0.1")))
      assert(n >= cap / 2 && n <= cap * 3 / 2,
        s"$sf training sample $n escaped the size target [${cap / 2}, ${cap * 3 / 2}]")
    // (d) the FAISS production default exercised (r15 verdict Next
    // #4): at perCell = 256 the cap (2560) exceeds every gate corpus,
    // so the derived modulus is 1 and the sample IS the corpus — the
    // documented degeneration, exactly FAISS's own under-cap behavior
    // — while the registered 25 genuinely samples on sf0.1 (8:1).
    // Same max(1, ceil(n/cap)) arithmetic; only the ratio decides.
    for (sf <- Seq(d, "/root/testdata/sf0.1")) {
      val full = graft.Tables.embeddings(spark, sf).count()
      val at256 = graft.queries.VectorQueries
        .kmTrainSampleOf(spark, sf, perCell = 256).count()
      info(s"perCell=256 on $sf: sample $at256 of $full")
      assert(at256 === full,
        s"under the 256-cap the sampler must degenerate to full training on $sf")
    }
    assert(nLarge < graft.Tables.embeddings(spark, "/root/testdata/sf0.1").count(),
      "the registered perCell must genuinely sample on sf0.1")
  }

  test("KmCells is the SemDeDup scale knob: per-cell pair volume collapses as k grows") {
    // SemDeDup's 100 TB story is the per-cell quadratic bound (n/k)²,
    // which holds only if k grows with the corpus (the paper's own
    // protocol, quoted at dedup_semdedup). Every other geometry in
    // this repo has its scale effect MEASURED (r13 verdict What's
    // wrong #2) — this is KmCells': train the quantizer at k = 10
    // (the registered point) and k = 32 on the same corpus and pin
    // that the within-cell PAIR COUNT (Σ n·(n−1)/2 — exactly the rows
    // the decision self-join scans) falls, while the decisions stay
    // the shared semdedup body. Measured at sf0.01 (500
    // vectors): pairs 12 363 (k=10) → 3 931 (k=32) — a 3.1× collapse
    // for 3.2× the cells, i.e. ~n²/2k as the bound predicts on
    // near-balanced cells; kept 313 → 385 of 500 (fewer pairs ⇒ fewer
    // dominated members) — the knob trades scan cost against dedup
    // aggressiveness exactly as the paper states.
    val d = "/root/testdata/sf0.01"
    // ONE training run per k: pair volume and keep decisions both
    // derive from the same decisions frame (code-review r14 — the
    // first cut retrained the quantizer once per metric)
    def stats(k: Int): (Long, Long) = {
      val vq = graft.queries.VectorQueries
      val dec = vq.semdedup(spark, d, vq.Quantizer.lloyd(spark, d, cells = k))
        .select(col("cell"), col("kept")).localCheckpoint()
      val pairs = dec.groupBy(col("cell")).count()
        .agg(sum(col("count") * (col("count") - 1))).head.getLong(0) / 2
      (pairs, dec.filter(col("kept") === 1L).count())
    }
    val (p10, k10) = stats(10)
    val (p32, k32) = stats(32)
    info(s"within-cell pairs: k=10 -> $p10, k=32 -> $p32")
    info(s"kept members:      k=10 -> $k10, k=32 -> $k32")
    assert(p32 < p10,
      s"pair volume should collapse as k grows: k=10 $p10 vs k=32 $p32")
    assert(k32 >= k10,
      s"kept count should not fall as k grows: k=10 $k10 vs k=32 $k32")
    // The knob's SERVING-side recall effect, same treatment: at the
    // family's fixed NProbe = 3, k = 32 cells probe 3/32 of the
    // corpus instead of 3/10 — recall falls with the scanned
    // fraction (what a deployment buys back by raising NProbe with
    // k, holding NProbe/k — and so scan cost — constant). Measured
    // at sf0.01: recall@3 × |brute| 190 (k=10) → 165 (k=32) of 300 —
    // a 13% recall drop for a 3.2× smaller scanned fraction (finer
    // cells track the geometry better, so recall falls far slower
    // than the scan shrinks — exactly why the paper grows k with the
    // corpus).
    def recallAt(k: Int): Int =
      graft.queries.VectorQueries.ivfTopk(spark, d,
          graft.queries.VectorQueries.Quantizer.lloyd(spark, d, cells = k),
          graft.queries.VectorQueries.Codec.raw)
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(brutePairs).size
    lazy val brutePairs =
      graft.queries.VectorQueries.queries("ann_brute_topk")(spark, d)
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (r10, r32) = (recallAt(10), recallAt(32))
    info(s"recall@3 x |brute| at np=3: k=10 -> $r10, k=32 -> $r32 of ${brutePairs.size}")
    assert(r32 <= r10,
      s"recall should not rise as the probed fraction shrinks: k=10 $r10 vs k=32 $r32")
  }

  test("PQ codebook size is the recall knob: k=64 beats the k=16 default") {
    // The Lloyd-rounds measurement showed recall is bound by CODEBOOK
    // SIZE, not training convergence — this is the other half of that
    // claim, measured: the same exhaustive-ADC query shape over a
    // 4x-larger trained codebook (k=64, rounds=1) must recover more of
    // the true top-3 than the registered k=16 default. Registered
    // queries keep k=16 (oracle CTEs are generated from the constant);
    // k is where a production deployment buys recall (typically 256).
    val d = "/root/testdata/sf0.01"
    val vq = graft.queries.VectorQueries
    val subs = vq.pqSubs(spark, d).localCheckpoint()
    val brute = annPairs("ann_brute_topk", d)
    def recallAt(k: Int): Double = {
      val pairs = vq.adcTopk(subs, vq.pqCodebook(subs, k = k))
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.intersect(brute).size.toDouble / brute.size
    }
    val r16 = recallAt(16)
    val r64 = recallAt(64)
    info(s"adc recall@3 vs brute: k=16 -> $r16, k=64 -> $r64")
    assert(r64 > r16, s"k=64 recall $r64 not above k=16 recall $r16")
  }

  test("IVFADC: recall floor vs brute force; exactly top-3 per query") {
    // The composed query (cell filter -> ADC) loses recall at BOTH
    // stages — cell pruning and PQ distortion. The registered geometry
    // is the r11 measured selection (k = 128 raw encoding at the
    // unchanged NProbe = 3 pruning fraction — grid in the IvfPqK doc):
    // recall@3 vs brute 0.207 at sf0.01, up from the r10 default's
    // 0.13. Deterministic arithmetic on a fixed corpus, so the floor
    // sits just under the measured value and catches both a broken
    // composition AND a silent geometry regression.
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    val rows = graft.queries.VectorQueries.queries("ann_ivfpq_topk")(spark, d)
      .collect()
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.size === 100, s"expected 100 queries, got ${perQuery.size}")
    perQuery.foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L),
        s"query $qid ranks malformed")
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pairs.intersect(brute).size.toDouble / brute.size
    info(s"ivfpq recall@3 vs brute: $recall")
    assert(recall >= 0.2, s"IVFADC recall@3 $recall below floor")
  }

  test("NProbe is the serving-time recall knob: probing more cells raises IVFADC recall") {
    // The r11 geometry grid measured recall@3 vs brute at k = 128
    // rising 0.207 → 0.270 from np=3 to np=5 (IvfPqK doc); this pins
    // the DIRECTION so the knob stays a knob — deterministic
    // arithmetic on a fixed corpus, so strict inequality is stable.
    // Also the knob's contract: a query's np=3 probe set is a subset
    // of its np=5 set (the rank window only extends).
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    def recallAtNp(np: Int): Double = {
      val pairs = graft.queries.VectorQueries.ivfTopk(spark, d,
          graft.queries.VectorQueries.Quantizer.labelMeans(spark, d),
          graft.queries.VectorQueries.Codec.pq(spark, d), nprobe = np)
        .select(col("qid"), col("nn_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.intersect(brute).size.toDouble / brute.size
    }
    val r3 = recallAtNp(3)
    val r5 = recallAtNp(5)
    info(s"ivfpq recall@3 vs brute: np=3 -> $r3, np=5 -> $r5")
    assert(r5 > r3, s"np=5 recall $r5 not above np=3 recall $r3")
    def probeSet(np: Int): Set[(Long, Int)] =
      graft.queries.VectorQueries.ivfProbedCells(spark, d, np)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val p3 = probeSet(3)
    val p5 = probeSet(5)
    assert(p3.subsetOf(p5), "np=3 probe lists must be a subset of np=5's")
    assert(p5.size === p3.size / 3 * 5, "np=5 must probe exactly 5 cells per query")
  }

  test("IVFADC+R: exact re-rank lifts recall over the ADC order; answers come from the shortlist") {
    // The published third stage (Jégou TPAMI'11 §V): re-ranking the
    // ADC top-RefineR by exact cosine must beat the raw ADC order —
    // quantization distortion is exactly what the refine stage exists
    // to undo — and every refined answer must come FROM the shortlist
    // (the stage re-orders candidates, it never conjures new ones).
    // Deterministic arithmetic on a fixed corpus, so the strict
    // inequality is stable; measured values recorded at the RefineR doc.
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    val adc = annPairs("ann_ivfpq_topk", d)
    val refined = annPairs("ann_ivfpq_refine", d)
    val short = graft.queries.VectorQueries
      .ivfTopk(spark, d, graft.queries.VectorQueries.Quantizer.labelMeans(spark, d),
        graft.queries.VectorQueries.Codec.pq(spark, d),
        topn = graft.queries.VectorQueries.RefineR)
      .select(col("qid"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined.subsetOf(short),
      "refined top-3 must be drawn from the ADC shortlist")
    val rAdc = adc.intersect(brute).size.toDouble / brute.size
    val rRef = refined.intersect(brute).size.toDouble / brute.size
    val rIvf = annPairs("ann_ivf_topk", d).intersect(brute).size.toDouble / brute.size
    info(s"recall@3 vs brute: adc=$rAdc refine=$rRef ivf-exact-within-cells=$rIvf")
    assert(rRef > rAdc,
      s"refine recall $rRef must beat the raw ADC order's $rAdc")
    // The registered point (np=3, R=20 — selected from the measured
    // joint (np, R) surface, see the RefineR doc) must hold its measured
    // recall: 0.453 on this corpus, floored with margin.
    assert(rRef >= 0.40,
      s"registered refine recall $rRef fell below the grid-selected floor")
    // R is a PROVABLY monotone recall knob: a candidate that displaces
    // a brute-top-3 member from the re-ranked top-3 has higher exact
    // cosine, so it is itself a brute-top-3 member — growing the
    // shortlist can only swap true positives for true positives or add
    // them. Assert the direction at R=40 (values at the RefineR doc).
    val refined40 = graft.queries.VectorQueries
      .ivfpqRefineTopk(spark, d, shortlist = 40)
      .select(col("qid"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rRef40 = refined40.intersect(brute).size.toDouble / brute.size
    info(s"refine recall@3: R=${graft.queries.VectorQueries.RefineR} -> $rRef, R=40 -> $rRef40")
    assert(rRef40 >= rRef, s"recall must be monotone in R: $rRef40 < $rRef")
  }

  test("dedup_semdedup: full-corpus decision; the least-prototypical cell member survives; planted copies dedup") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.queries.VectorQueries.queries("dedup_semdedup")(spark, d)
      .collect()
    val n = graft.Tables.embeddings(spark, d).count()
    assert(rows.length.toLong === n, "one keep/drop decision per corpus row")
    assert(rows.forall(r => Set(0L, 1L)(r.getLong(r.fieldIndex("kept")))))
    val kept = rows.count(_.getLong(3) == 1L)
    info(s"kept $kept of $n (threshold cos >= 0.3, 10 cells)")
    // The dominance key is (centroid-sim ASC, vec_id ASC): the cell's
    // minimum-key member can never be dominated, so the paper's
    // keep-the-least-prototypical rule is visible per cell.
    rows.groupBy(_.getInt(1)).foreach { case (_, cell) =>
      val least = cell.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(least.getLong(3) === 1L,
        s"least-prototypical member ${least.getLong(0)} must be kept")
    }
    // Planted near-copies (cos ~0.99, same label => same cell) must be
    // deduplicated: each (orig, copy) pair is a within-cell near-dup
    // relation, and dominance always drops exactly one side of a pair.
    val out = plantNearCopies("semdedup-emb", seed = 7, noise = 0.08f)
    val outRows = graft.queries.VectorQueries.queries("dedup_semdedup")(spark, out)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(3)))).toMap
    // SemDeDup's documented recall loss is exactly CLUSTER-BOUNDARY
    // near-dups: a copy whose perturbation flips its nearest centroid
    // lands in a different cell and the within-cell scan never pairs
    // them (the paper mitigates with larger k + multiple assignments).
    // So: every SAME-cell planted pair must lose a member, any missed
    // pair must be a boundary crossing, and crossings must be rare.
    val missed = (0L until 20L).filter { q =>
      outRows(q)._2 == 1L && outRows(100000L + q)._2 == 1L
    }
    missed.foreach { q =>
      assert(outRows(q)._1 !== outRows(100000L + q)._1,
        s"same-cell planted pair ($q, ${100000L + q}) must lose one member")
    }
    info(s"planted pairs deduplicated: ${20 - missed.size}/20" +
      s" (missed = cell-boundary crossings: ${missed.mkString(",")})")
    assert(missed.size <= 2, s"too many boundary misses: $missed")
  }

  test("semdedup multi-cell probe: nprobe=1 reduces to the paper's base case; nprobe=2 recovers the boundary misses") {
    // r12 verdict #3: the single-cell scan's documented loss mode is
    // cluster-boundary near-dups; the multi-probe knob (semdedupKept,
    // the paper's multiple-assignments mitigation) must (a) reduce to
    // the registered query at nprobe=1 — the knob changes COVERAGE,
    // never the dominance semantics — and (b) recover the planted
    // fixture's boundary crossings at nprobe=2 (19/20 → 20/20).
    val d = "/root/testdata/sf0.01"
    def decisions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getDouble(2), r.getLong(3))).toSet
    val registered = decisions(
      graft.queries.VectorQueries.queries("dedup_semdedup")(spark, d))
    val base = decisions(graft.queries.VectorQueries.semdedupKept(spark, d, 1))
    assert(base === registered,
      "nprobe=1 must reproduce the registered single-cell decisions")
    // same planted construction as the dedup_semdedup spec (same seed
    // + noise): 20 near-copies (cos ~0.99) whose perturbation
    // occasionally flips the nearest centroid — exactly the pairs
    // nprobe=2 must recover
    val out = plantNearCopies("semdedup-probe-emb", seed = 7, noise = 0.08f)
    def missedAt(nprobe: Int): Seq[Long] = {
      val kept = graft.queries.VectorQueries.semdedupKept(spark, out, nprobe)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      (0L until 20L).filter(q => kept(q) == 1L && kept(100000L + q) == 1L)
    }
    val m1 = missedAt(1)
    val m2 = missedAt(2)
    info(s"planted pairs missed: nprobe=1 → ${m1.size} (${m1.mkString(",")}); " +
      s"nprobe=2 → ${m2.size}")
    // monotonicity FIRST and as a subset (a pair missed at nprobe=2
    // must also be missed at nprobe=1 — wider probes only ADD scanned
    // pairs), so the claim is exercised independently of the
    // recovery assert below (code-review r13: a trailing size
    // comparison after isEmpty was vacuous)
    assert(m2.toSet.subsetOf(m1.toSet),
      s"coverage must be monotone in nprobe: $m2 not within $m1")
    assert(m2.isEmpty,
      s"nprobe=2 must recover every planted boundary pair, missed: $m2")
  }

  test("dedup_semdedup_kmeans: the paper's k-means protocol — decision contract on trained cells; planted copies dedup") {
    // Abbas et al. cluster with k-means, not labels — this face IS the
    // paper's protocol. The shared decision body (semdedup)
    // must show the same contracts on trained cells: one decision per
    // corpus row, the least-prototypical member of every cell kept,
    // and planted near-copies deduplicated up to boundary crossings.
    val d = "/root/testdata/sf0.01"
    val rows = graft.queries.VectorQueries
      .queries("dedup_semdedup_kmeans")(spark, d).collect()
    val n = graft.Tables.embeddings(spark, d).count()
    assert(rows.length.toLong === n, "one keep/drop decision per corpus row")
    rows.groupBy(_.getLong(1)).foreach { case (_, cell) =>
      val least = cell.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(least.getLong(3) === 1L,
        s"least-prototypical member ${least.getLong(0)} must be kept")
    }
    val out = plantNearCopies("semdedup-km-emb", seed = 7, noise = 0.08f)
    val outRows = graft.queries.VectorQueries
      .queries("dedup_semdedup_kmeans")(spark, out)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val missed = (0L until 20L).filter { q =>
      outRows(q)._2 == 1L && outRows(100000L + q)._2 == 1L
    }
    missed.foreach { q =>
      assert(outRows(q)._1 !== outRows(100000L + q)._1,
        s"same-cell planted pair ($q, ${100000L + q}) must lose one member")
    }
    info(s"planted pairs deduplicated: ${20 - missed.size}/20 on trained" +
      s" cells (boundary crossings: ${missed.mkString(",")})")
    assert(missed.size <= 2, s"too many boundary misses: $missed")
  }

  test("dedup_semdedup_kmeans_sampled: decision contract holds under the size-targeted trainer; the knob binds") {
    // The paper's production protocol end to end: quantizer trained on
    // the ~KmTrainPerCell·k-point sample, decisions on the FULL corpus.
    // Same contracts as the full-trained face — one decision per row,
    // least-prototypical member kept per cell — plus the knob check:
    // the sampled quantizer's cells differ somewhere (the sample is a
    // proper subset, so identical output would mean the knob is dead),
    // while the kept-rate stays in the full-trained band (the
    // aggressiveness of the dedup is a property of cell width, not of
    // which regime trained the cells).
    val d = "/root/testdata/sf0.01"
    val vq = graft.queries.VectorQueries
    val sampled = vq.queries("dedup_semdedup_kmeans_sampled")(spark, d)
      .collect()
    val full = vq.queries("dedup_semdedup_kmeans")(spark, d).collect()
    val n = graft.Tables.embeddings(spark, d).count()
    assert(sampled.length.toLong === n, "one decision per corpus row")
    sampled.groupBy(_.getLong(1)).foreach { case (_, cell) =>
      val least = cell.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(least.getLong(3) === 1L,
        s"least-prototypical member ${least.getLong(0)} must be kept")
    }
    def cells(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(sampled) !== cells(full),
      "sampled training must actually move some assignment (knob dead?)")
    val keptS = sampled.count(_.getLong(3) == 1L)
    val keptF = full.count(_.getLong(3) == 1L)
    info(s"kept: sampled=$keptS full=$keptF of $n")
    assert(math.abs(keptS - keptF) <= n / 10,
      s"sampled kept-rate left the full-trained band: $keptS vs $keptF")
  }

  test("IVFADC residual encoding: implemented, exact shape, and the trade is measured") {
    // by_residual=true (ivfpqResidualTopk) is the accuracy knob FAISS
    // ships on by default — on THIS corpus it measures at-or-below the
    // raw encoding (label cells over near-uniform vectors put
    // centroids near the origin: residual ≈ raw + re-quantization
    // noise; full grid in the IvfPqK doc). This spec keeps that a
    // MEASURED fact: the residual path must stay well-formed (top-3
    // per query) and within noise of raw (not collapsed — a broken
    // residual join would crater to ~0), while the registered default
    // must not be beaten by more than the measured gap (if residual
    // ever wins by >0.05 on a future corpus change, the default choice
    // needs re-deciding — fail loudly rather than drift).
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    val res = graft.queries.VectorQueries.ivfpqResidualTopk(spark, d,
        graft.queries.VectorQueries.Quantizer.labelMeans(spark, d))
      .select(col("qid"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = annPairs("ann_ivfpq_topk", d)
    val rRes = res.intersect(brute).size.toDouble / brute.size
    val rRaw = raw.intersect(brute).size.toDouble / brute.size
    info(s"recall@3 vs brute: raw=$rRaw residual=$rRes")
    assert(res.groupBy(_._1).size === 100, "residual path must serve every query")
    assert(rRes >= 0.1, s"residual recall $rRes collapsed — broken composition")
    assert(rRes <= rRaw + 0.05,
      s"residual ($rRes) now beats raw ($rRaw) — re-decide the registered default")
  }

  test("IVFADC on trained cells: the unsupervised stack's recall and its raw-vs-residual trade, measured") {
    // ann_ivfpq_kmeans_topk is the fully unsupervised published stack
    // (k-means coarse quantizer + PQ + ADC). Two measured contracts:
    //  1. The trained ADC face must serve every query and beat the
    //     label-cell face (trained cells probe a better-matched corpus
    //     fraction — measured 0.233 vs 0.207 at sf0.01; the gap is
    //     smaller than the exact faces' 0.633 vs 0.533 because PQ
    //     quantization error dominates both).
    //  2. The raw-vs-residual default is RE-DECIDED on trained cells:
    //     the label-cell adjudication rested on centroids-near-origin
    //     (residual ≈ raw + re-quantization noise), which Lloyd cells
    //     void — yet residual STILL loses here (0.153 vs 0.233: at
    //     PqK=128 over 8-dim subspaces the per-cell re-quantization of
    //     near-uniform residuals costs more than centered data buys),
    //     so raw stays the registered default ON MEASUREMENT, and the
    //     pin re-opens the decision loudly on any corpus change.
    val d = "/root/testdata/sf0.01"
    val brute = annPairs("ann_brute_topk", d)
    val kmRaw = annPairs("ann_ivfpq_kmeans_topk", d)
    val lblRaw = annPairs("ann_ivfpq_topk", d)
    val kmRes = graft.queries.VectorQueries
      .ivfpqResidualTopk(spark, d, graft.queries.VectorQueries.Quantizer.lloyd(spark, d))
      .select(col("qid"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(s: Set[(Long, Long)]) =
      s.intersect(brute).size.toDouble / brute.size
    val (rKm, rLbl, rKmRes) = (recall(kmRaw), recall(lblRaw), recall(kmRes))
    info(s"ADC recall@3 vs brute: kmeans-raw=$rKm label-raw=$rLbl kmeans-residual=$rKmRes")
    assert(kmRaw.groupBy(_._1).size === 100, "trained ADC must serve every query")
    assert(rKm > rLbl,
      s"trained-cell ADC ($rKm) should beat label-cell ADC ($rLbl) as the exact faces do")
    assert(rKmRes <= rKm + 0.05,
      s"residual ($rKmRes) now beats raw ($rKm) on trained cells — re-decide the registered default")
    // The SAMPLE-TRAINED stack (ann_ivfpq_kmeans_sampled_topk — the
    // production trainer through PQ + ADC): recall must hold within
    // the full-training band (measured 0.230 vs 0.233 at sf0.01 —
    // PQ distortion dominates, so the sampled quantizer's tiny cell
    // shift barely registers) and every query must be served.
    val kmS = annPairs("ann_ivfpq_kmeans_sampled_topk", d)
    val rKmS = recall(kmS)
    info(s"ADC recall@3 vs brute: kmeans-sampled-raw=$rKmS (full=$rKm)")
    assert(kmS.groupBy(_._1).size === 100,
      "sampled-trained ADC must serve every query")
    assert(rKmS >= rKm - 0.05,
      s"sample-trained ADC ($rKmS) fell out of the full-training band ($rKm)")
  }

  test("identical vectors share the full signature (near-dup contract)") {
    val w = Array.tabulate(16, 8)((j, i) => ((j * 31 + i * 7) % 11) - 5)
    val v = Seq.tabulate(8)(i => (i * 0.37f) - 1.1f)
    val df = Seq(Tuple1(v), Tuple1(v)).toDF("v")
      .select(VectorFunctions.hyperplaneSig(col("v"), w).as("s"))
    assert(df.distinct().count() === 1)
  }

  test("driver-held k-means arithmetic is exact, and a Long overflow fails loudly") {
    // The driver fold, means and drift are the engine's integer
    // arithmetic with Math.*Exact where ANSI Spark's sum and * would
    // raise: constructed tables pin the exact values and each
    // overflow path.
    val vq = graft.queries.VectorQueries
    val zero = Array.fill(64)(0L)
    val cum = Map(3L -> ((2L, Array.tabulate(64)(i => i.toLong << 24))))
    val folded = vq.kmFoldSums(cum, cum)
    assert(folded(3L)._1 === 4L)
    assert(folded(3L)._2.toSeq === Seq.tabulate(64)(i => (2L * i) << 24))
    val base = Seq(3L -> Array.fill(64)(9.0), 4L -> Array.fill(64)(7.0))
    val means = vq.kmCumCentroids(base, folded)
    assert(means.map(_._1) === Seq(3L, 4L))
    assert(means(0)._2.toSeq === Seq.tabulate(64)(i => i / 2.0))
    assert(means(1)._2.toSeq === base(1)._2.toSeq, "an empty cell keeps its base centroid")
    // one coordinate moved by 1.0 is (2^24)^2 in the fixed-point metric
    val moved = Seq(3L -> Array.tabulate(64)(i => if (i == 5) 10.0 else 9.0))
    assert(vq.kmDriftFp2(moved, base) === (1L << 48))
    assert(vq.kmDriftPerCell(moved, base) === Seq(3L -> (1L << 48)),
      "drift covers only the cells both tables hold")
    intercept[ArithmeticException] { // count
      vq.kmFoldSums(Map(0L -> ((Long.MaxValue, zero))), Map(0L -> ((1L, zero))))
    }
    intercept[ArithmeticException] { // Σ component
      vq.kmFoldSums(Map(0L -> ((1L, Array.fill(64)(Long.MaxValue)))),
        Map(0L -> ((1L, Array.fill(64)(1L)))))
    }
    intercept[ArithmeticException] { // n · CentScale
      vq.kmCumCentroids(Seq(0L -> Array.fill(64)(0.0)), Map(0L -> ((1L << 40, zero))))
    }
    intercept[ArithmeticException] { // squared delta: (2^44)^2
      vq.kmDriftFp2(Seq(0L -> Array.fill(64)(1024.0 * 1024)), Seq(0L -> Array.fill(64)(0.0)))
    }
    intercept[ArithmeticException] { // sum of squares: 2 · (2^31)^2
      vq.kmDriftFp2(Seq(0L -> Array.tabulate(64)(i => if (i < 2) 128.0 else 0.0)),
        Seq(0L -> Array.fill(64)(0.0)))
    }
  }
}
