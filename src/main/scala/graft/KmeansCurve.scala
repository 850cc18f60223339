package graft

import org.apache.spark.sql.functions.col

import graft.queries.VectorQueries

/** Training curve + recall payoff of the unsupervised coarse quantizer
  * (the Lloyd k-means face, vec_kmeans_assign / ann_ivf_kmeans_topk):
  *
  *  - DIST round=r — total assigned distortion (Σ per-vector min L2²)
  *    under the quantizer trained for r rounds. Lloyd guarantees
  *    non-increase (each assign step and each mean step separately
  *    lowers the objective); the curve locates the knee that picks
  *    the registered KmRounds.
  *  - RECALL — recall@3 vs the exact brute-force baseline at the
  *    family's pinned NProbe = 3, for the TRAINED cells
  *    (ann_ivf_kmeans_topk) next to the supervised label cells
  *    (ann_ivf_topk) on the same corpus: whether Lloyd cells beat the
  *    labels they replace at the identical pruning fraction.
  *
  * Measured numbers and the registered choice: see the KmRounds doc in
  * VectorQueries.
  *
  * {{{ runMain graft.KmeansCurve [sfDir] }}}
  */
object KmeansCurve {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.local("graft-kmeans-curve")
    try {
      // one training run; each round's table scored without re-running
      // earlier rounds (kmCentroidTables — the loop's driver-held tables)
      VectorQueries.kmCentroidTables(spark, d, 3).zipWithIndex
        .foreach { case (c, r) =>
          val dist = VectorQueries.kmDistortionOf(spark, d, c)
            .collect()(0).getDouble(0)
          println(f"DIST round=$r distortion=$dist%.3f")
        }
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("qid"), col("nn_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(VectorQueries.queries("ann_brute_topk")(spark, d))
      def recall(s: Set[(Long, Long)]): Double =
        s.intersect(brute).size.toDouble / brute.size
      val km = recall(pairs(VectorQueries.queries("ann_ivf_kmeans_topk")(spark, d)))
      val lbl = recall(pairs(VectorQueries.queries("ann_ivf_topk")(spark, d)))
      println(f"RECALL np=3 kmeans=$km%.3f label=$lbl%.3f")
      // The SAMPLE-TRAINED quantizer (the FAISS max_points_per_centroid
      // protocol, KmTrainPerCell doc): distortion of the full corpus under
      // sample-trained centroids, and recall at the same NProbe — the
      // sample-vs-full band the registered query's doc records.
      val sampled = VectorQueries.kmCentroidTables(spark, d, 3,
        sampled = true)
      sampled.zipWithIndex.foreach { case (c, r) =>
        val dist = VectorQueries.kmDistortionOf(spark, d, c)
          .collect()(0).getDouble(0)
        println(f"DIST-SAMPLED round=$r distortion=$dist%.3f")
      }
      val kmS = recall(pairs(
        VectorQueries.queries("ann_ivf_kmeans_sampled_topk")(spark, d)))
      println(f"RECALL np=3 kmeans_sampled=$kmS%.3f (full=$km%.3f)")
      // Seed grid (r14 verdict Next #4): farthest-point (Gonzalez)
      // vs the registered first-K seed at EQUAL rounds, on both the
      // full and sampled trainers — distortion after each round and
      // the serving recall the seed buys. Recorded at the KmSeed doc.
      for (smp <- Seq(false, true)) {
        val tag = if (smp) "farthest_sampled" else "farthest"
        VectorQueries.kmCentroidTables(spark, d, 3, sampled = smp,
          seed = "farthest").zipWithIndex.foreach { case (c, r) =>
          val dist = VectorQueries.kmDistortionOf(spark, d, c)
            .collect()(0).getDouble(0)
          println(f"DIST-${tag.toUpperCase} round=$r distortion=$dist%.3f")
        }
        val rc = recall(pairs(
          VectorQueries.kmIvfTopk(spark, d, sampled = smp,
            seed = "farthest")))
        println(f"RECALL np=3 $tag=$rc%.3f")
      }
    } finally spark.stop()
  }
}
