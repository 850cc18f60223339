package graft.queries

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftSpec

/** Property tests for the shared connected-components loop — the most
  * intricate distributed algorithm in the repo (iterative min-label
  * propagation with per-round lineage truncation), pinned against a
  * trivially-correct driver-side union-find on random graphs. Both
  * dedup cluster operators (embedding + MinHash) ride on this.
  * Generators are seed-fixed `Gen`s, the repo's reproducible-property
  * pattern (see ExactlyOnceSpec).
  */
class GraphsSpec extends GraftSpec {
  import spark.implicits._

  /** Reference labeling: plain union-find, component = smallest member
    * (unions always point the larger root at the smaller, so each
    * tree's final root is its component's minimum).
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graphs.connectedComponents(edges.toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val edgeListGen: Gen[List[(Long, Long)]] = for {
    nv <- Gen.choose(4L, 24L)
    ne <- Gen.choose(1, 30)
    edges <- Gen.listOfN(ne,
      Gen.zip(Gen.choose(0L, nv), Gen.choose(0L, nv)))
  } yield edges.filter { case (a, b) => a != b }

  test("connectedComponents equals union-find on random graphs") {
    for (i <- 0 until 10) {
      val edges = edgeListGen
        .pureApply(Gen.Parameters.default, Seed(1234L + i))
      if (edges.nonEmpty)
        assert(cc(edges) === unionFind(edges), s"case $i: $edges")
    }
  }

  test("single edge, chain, and two disjoint triangles label by smallest member") {
    assert(cc(Seq((7L, 3L))) === Map(7L -> 3L, 3L -> 3L))
    // a long chain exercises multi-round convergence (diameter 9)
    val chain = (0L until 9L).map(i => (i, i + 1))
    assert(cc(chain) === (0L to 9L).map(_ -> 0L).toMap)
    val tris = Seq((1L, 2L), (2L, 5L), (5L, 1L), (10L, 11L), (11L, 12L))
    assert(cc(tris) ===
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("round count is O(diameter): a giant star converges in one round, a path in ~diameter") {
    // Star on 10k vertices (diameter 2, center = min id): the seed pass
    // (min over direct neighbors) already labels every vertex 0, so the
    // loop's first convergence check finds no change — exactly 1 round
    // regardless of vertex count. This is the giant-component shape of
    // a dedup corpus (one boilerplate passage linking everything).
    val star = (1L until 10000L).map(i => (0L, i))
    val (starDf, starRounds) = Graphs.withRounds(star.toDF("da", "db"))
    assert(starDf.filter(col("comp") =!= 0L).count() === 0L)
    assert(starDf.count() === 10000L)
    assert(starRounds === 1, s"star must converge in 1 round, took $starRounds")

    // Path graph (the worst case for min-label propagation): the label
    // moves one hop per round, so rounds ≈ diameter — NOT corpus size.
    // Diameter 64 keeps the test fast while being 7x the property-test
    // sizes; the seed pass and the final no-change check bound rounds
    // in [diameter - 2, diameter + 1].
    val n = 64L
    val path = (0L until n).map(i => (i, i + 1))
    val (pathDf, pathRounds) = Graphs.withRounds(path.toDF("da", "db"))
    assert(pathDf.filter(col("comp") =!= 0L).count() === 0L)
    assert(pathRounds >= n - 2 && pathRounds <= n + 1,
      s"path of diameter $n must take ~$n rounds, took $pathRounds")
  }

  test("reliable checkpoint() strategy is injectable and agrees with localCheckpoint") {
    // The 100 TB strategy: per-round reliable checkpoint survives
    // executor loss (localCheckpoint blocks die with their executor and
    // the truncated lineage cannot recompute them). Same fixpoint, same
    // labels — only the materialization differs.
    val prev = spark.sparkContext.getCheckpointDir
    val dir = tmpDir("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L), (9L, 7L))
      val reliable = Graphs
        .connectedComponents(edges.toDF("da", "db"), _.checkpoint(true))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === cc(edges))
    } finally {
      prev.foreach(spark.sparkContext.setCheckpointDir)
      graft.queries.VectorQueries.deleteRecursively(new java.io.File(dir))
    }
  }
}
