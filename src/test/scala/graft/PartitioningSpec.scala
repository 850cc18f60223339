package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.queries.{CurationQueries => CQ, RelationalQueries => RQ}

/** Physical-plan assertions: the properties that matter at 100 TB are
  * structural (where the exchanges are), not row counts — so test the
  * plans directly.
  */
class PartitioningSpec extends GraftSpec {
  import spark.implicits._

  private def withoutAqe[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("co-partitioned join reuses the explicit repartitioning (no extra exchange)") {
    withoutAqe {
      val a = (1 to 100).map(i => (i % 10, s"a$i")).toDF("k", "va")
        .repartition(8, col("k"))
      val b = (1 to 50).map(i => (i % 10, s"b$i")).toDF("k", "vb")
        .repartition(8, col("k"))
      val joined = a.join(b, "k")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // exactly the two explicit repartitions — the join itself adds none
      assert(exchanges.length === 2)
      assert(joined.count() === 500)
    }
  }

  test("footer-answerable aggregates push down on the v2 parquet scan") {
    // aggregate pushdown is a v2-source feature; v1 (Spark's and the
    // engine's default) ignores the conf. Pin the documented opt-in
    // combination here: v2 source + aggregatePushdown → the scan
    // answers MIN/MAX/COUNT from footer statistics (PushedAggregation)
    // without reading a single row group.
    val confs = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .agg(min(col("l_quantity")), max(col("l_quantity")), count(lit(1)))
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("PushedAggregation"),
        s"expected PushedAggregation in:\n$scan")
      val row = df.collect().head
      assert(row.getDouble(0) === 1.0 && row.getDouble(1) === 50.0 &&
        row.getLong(2) === 6000L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // static pruning (FormatsSpec) handles literal predicates; DPP is
    // the 100 TB case — the selective filter lives on the DIMENSION,
    // and the fact side's partition list is only knowable at runtime.
    // The plan must carry a dynamicpruning subquery on the fact scan.
    val dir = tmpDir("dpp-fact")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    // the rule wants a selective filter over a SCAN — a LocalRelation
    // dim does not qualify (probed; the subquery never appears)
    val dimDir = tmpDir("dpp-dim")
    Seq(("1-URGENT", "hot"), ("5-LOW", "cold"), ("2-HIGH", "warm"))
      .toDF("prio", "tag").write.mode("overwrite").parquet(dimDir)
    val q = spark.read.parquet(dir)
      .join(spark.read.parquet(dimDir).filter(col("tag") === "hot"),
        col("o_orderpriority") === col("prio"))
    val planStr = q.queryExecution.optimizedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"expected a dynamicpruning predicate in:\n$planStr")
    val expected = spark.read.parquet(dir)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(q.count() === expected)
  }

  test("ann_ivf_persisted_topk: the registered store reads exactly NProbe cell partitions per lookup") {
    // The registered persisted-index row (r15 verdict Next #3): the
    // query itself writes the cell-partitioned artifact with one file
    // per cell (the repartition(cell) clustered write), so a one-query
    // serving lookup must read EXACTLY its NProbe probed cells' files
    // — the 100 TB claim ("probe list = partition-pruned read") on the
    // registered query's own store, not a fixture.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    // invoking the registered query builds (overwrites) the store; the
    // build plus one serve runs within a Spark-job budget (measured 18
    // at sf0.001, one label quantizer shared by build and serve)
    val (servedRows, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext) {
      vq.queries("ann_ivf_persisted_topk")(spark, sf).count()
    }
    assert(servedRows > 0)
    info(s"ann_ivf_persisted_topk build + serve: $jobs Spark jobs")
    assert(jobs <= 20, s"ann_ivf_persisted_topk ran $jobs Spark jobs, budget 20")
    val store = vq.storeLatest(vq.Codec.raw.root(sf))
    val cellDirs = new java.io.File(store).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs >= 10, s"expected >= 10 cell partitions, got $cellDirs")
    // one query's probe list, resolved through the registered probe face
    val cells = vq.ivfProbedCells(spark, sf).filter(col("qid") === 42)
      .select("cell").collect().map(_.getInt(0)).toSeq
    assert(cells.length === vq.NProbe)
    val pruned = spark.read.parquet(store)
      .filter(col("cell").isin(cells: _*))
    // collect() drives THIS DataFrame's executedPlan, so the scan
    // node's metrics below reflect the run (count() would execute a
    // separate plan and leave these at zero)
    assert(pruned.collect().nonEmpty)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "store scan must carry the probed-cell partition filter")
    val filesRead = scan.metrics("numFiles").value
    info(s"persisted-index lookup: files read $filesRead of $cellDirs cells")
    assert(filesRead === vq.NProbe.toLong,
      s"clustered store must read exactly NProbe files, read $filesRead")
    // and the registered query's own plan prunes the store dynamically:
    // the broadcast probe join plans a DPP predicate on the store scan
    withoutAqe {
      val plan = vq.queries("ann_ivf_persisted_topk")(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("dynamicpruning"),
        "registered probe join must plan dynamic partition pruning " +
          "on the persisted store scan")
    }
  }

  test("ann_ivfpq_persisted_topk: the packed-code store reads exactly NProbe cell partitions, 32x smaller rows") {
    // The IVFADC storage claim (r16 verdict Next #4) made structural:
    // the persisted artifact is the PACKED CODE table — one
    // array<tinyint> of PqM codes per vector, cell-partitioned, one
    // file per cell — and a one-query ADC lookup reads exactly its
    // NProbe probed cells' files. The compression is asserted on the
    // schema itself (codes: array<byte>), not argued.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val registered = vq.queries("ann_ivfpq_persisted_topk")(spark, sf)
    assert(registered.count() > 0)
    val store = vq.storeLatest(vq.Codec.pq(spark, sf).root(sf))
    val cellDirs = new java.io.File(store).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs >= 10, s"expected >= 10 cell partitions, got $cellDirs")
    val df = spark.read.parquet(store)
    val codesType = df.schema("codes").dataType
    assert(codesType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true),
      s"packed code column must be array<tinyint>, got $codesType")
    val cells = vq.ivfProbedCells(spark, sf).filter(col("qid") === 42)
      .select("cell").collect().map(_.getInt(0)).toSeq
    assert(cells.length === vq.NProbe)
    val pruned = df.filter(col("cell").isin(cells: _*))
    assert(pruned.collect().nonEmpty)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "code store scan must carry the probed-cell partition filter")
    val filesRead = scan.metrics("numFiles").value
    info(s"persisted-code lookup: files read $filesRead of $cellDirs cells")
    assert(filesRead === vq.NProbe.toLong,
      s"clustered code store must read exactly NProbe files, read $filesRead")
    // the registered query's own probe join prunes the store dynamically
    withoutAqe {
      val plan = vq.queries("ann_ivfpq_persisted_topk")(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("dynamicpruning"),
        "registered ADC probe join must plan dynamic partition pruning " +
          "on the persisted code store scan")
    }
  }

  test("stream_ann_ivfpq_persisted_topk: per-batch code appends inside cell dirs, pruning and compaction hold") {
    // The streaming code-store ingest made structural: each
    // micro-batch lands as an idempotent ingest=<id> partition INSIDE
    // its cell directories (packed array<tinyint> rows), the store
    // stays a pruned-read target, and compaction collapses the
    // per-batch accumulation to one clustered file per cell with the
    // content preserved exactly.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val res = graft.queries.StreamingGateQueries
      .queries("stream_ann_ivfpq_persisted_topk")(spark, sf)
    assert(res.count() > 0)
    val store = vq.storeLatest(vq.Codec.pq(spark, sf).root(sf))
    val cellDirs = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length >= 10,
      s"expected >= 10 cell partitions, got ${cellDirs.length}")
    def parquets(dir: java.io.File): Int = {
      val kids = Option(dir.listFiles()).getOrElse(Array.empty)
      kids.count(_.getName.endsWith(".parquet")) + kids.filter(_.isDirectory).map(parquets).sum
    }
    val maxFiles = cellDirs.map(parquets).max
    assert(maxFiles > 1,
      s"expected per-micro-batch ingest partitions inside cell dirs, " +
        s"max files per cell = $maxFiles")
    def packedRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("codes").cast("string").as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val preRows = packedRows(store)
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(preRows.size.toLong === corpus,
      s"code store holds ${preRows.size} of $corpus vectors")
    val cells = vq.ivfProbedCells(spark, sf).filter(col("qid") === 42)
      .select("cell").collect().map(_.getInt(0)).toSeq
    val pruned = spark.read.parquet(store)
      .filter(col("cell").isin(cells: _*))
    assert(pruned.collect().nonEmpty)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "streamed code-store scan must carry the probed-cell partition filter")
    // compaction collapses the ingest accumulation, preserves content
    // pruneAgeMs = 0: this single-JVM spec owns the root, so immediate
    // reclaim is safe (the default age gate protects sibling JVMs)
    val compacted = vq.ivfStoreCompact(spark, vq.Codec.pq(spark, sf).root(sf), pruneAgeMs = 0L)
    val cmpMax = new java.io.File(compacted).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(parquets).max
    assert(cmpMax === 1,
      s"compaction must leave ONE file per cell, max = $cmpMax")
    assert(packedRows(compacted) === preRows,
      "compaction must preserve the packed code rows exactly")
    assert(!new java.io.File(store).exists(),
      "the superseded ingest-accumulated child must be dropped")
  }

  // ---- shared store-inspection helpers (code-review r18: the walk /
  // per-cell grouping / fixture logic lived in four near copies) ----

  /** Recursive file walk. */
  private def walkFiles(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(k =>
      if (k.isDirectory) walkFiles(k) else Seq(k))

  /** Parquet data-file count per cell= path component — layout-
    * agnostic (cell=, cell=/ingest=, ingest=/cell=).
    */
  private def parquetsByCell(dir: String): Map[String, Int] =
    walkFiles(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .groupBy(_.getPath.split(java.io.File.separatorChar)
        .find(_.startsWith("cell=")))
      .collect { case (Some(c), fs) => c -> fs.size }

  /** One cell's parquet data files (any layout nesting below cell=). */
  private def cellFiles(dir: String, cell: Int): Seq[java.io.File] =
    walkFiles(new java.io.File(s"$dir/cell=$cell"))
      .filter(_.getName.endsWith(".parquet"))

  /** The (vec_id, v, cell) row set of a fixture store child. */
  private def fixtureRowSet(dir: String): Set[(Long, Long, Int)] =
    spark.read.parquet(dir)
      .select(col("vec_id"), col("v"), col("cell").cast("int").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Write a (vec_id, v, cell, ingest) fixture store child: one append
    * per ingest generation, each covering the given cells — the shape
    * the per-cell compaction and retention specs both pin against.
    */
  private def writeFixtureStore(child: String,
                                ingests: Seq[(Int, Range)]): Unit =
    for ((ing, cellsHere) <- ingests)
      spark.range(100)
        .select(col("id").as("vec_id"),
          (col("id") + lit(ing * 1000)).as("v"),
          (col("id") % 10).cast("int").as("cell"),
          lit(ing.toLong).as("ingest"))
        .filter(col("cell").isin(cellsHere.map(Integer.valueOf): _*))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell", "ingest").parquet(child)

  /** Shared post-gate pins for the two drift-refreshed persisted
    * stores (raw vectors / PQ codes): the run the gate published is
    * SELF-FINALIZED (r17 verdict Next #3 — no external compaction
    * call anywhere in this test): ≤ 2 generation-class children, a
    * drift-triggered current generation beyond the initial build,
    * compacted form (one file per cell), every arrived vector exactly
    * once, and a probe-shaped lookup reading exactly NProbe files.
    */
  private def assertRefreshStoreFinalized(sf: String, root: String,
                                          idCol: String): Unit = {
    val vq = graft.queries.VectorQueries
    val run = vq.storeLatest(root)
    val kids = new java.io.File(run).listFiles()
      .filter(f => f.isDirectory && (f.getName.startsWith("gen_") ||
        f.getName.startsWith("cmp_")))
      .map(_.getName).sorted.toSeq
    assert(kids.size <= 2,
      s"gate-driven lifecycle must bound the run to <= 2 generation " +
        s"children, got $kids")
    val cur = vq.storeLatest(run)
    assert(!cur.endsWith("gen_0"),
      s"current generation must be a drift-triggered rebuild beyond " +
        s"the initial build, got $cur")
    val rows = spark.read.parquet(cur)
      .select(col(idCol), col("cell").cast("int").as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(rows.size.toLong === corpus,
      s"current generation holds ${rows.size} of $corpus vectors")
    val perCell = parquetsByCell(cur)
    assert(perCell.nonEmpty && perCell.values.max === 1,
      s"finalized current generation must be in compacted form (one " +
        s"file per cell), got $perCell")
    val someCells = rows.map(_._2).toSeq.sorted.take(vq.NProbe)
    val pruned = spark.read.parquet(cur)
      .filter(col("cell").isin(someCells: _*))
    assert(pruned.collect().nonEmpty)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "generation scan must carry the probed-cell partition filter")
    val files = scan.metrics("numFiles").value
    info(s"finalized-store pruned lookup: files read $files")
    assert(files === vq.NProbe.toLong,
      s"finalized store must read exactly NProbe files, read $files")
  }

  test("stream_ann_ivf_persisted_refresh: gate-finalized run — bounded generations, compacted, pruned reads") {
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val res = graft.queries.StreamingGateQueries
      .queries("stream_ann_ivf_persisted_refresh")(spark, sf)
    assert(res.count() > 0)
    assertRefreshStoreFinalized(sf, vq.Codec.raw.refreshRoot(sf), "nn_id")
  }

  test("stream_ann_ivfpq_persisted_refresh: gate-finalized CODE store — packed rows, bounded generations, pruned reads") {
    // The composed code-store gate's physical pins (r17 verdict Next
    // #1): same lifecycle contract as the raw twin, PLUS the artifact
    // is the packed array<tinyint> code table — the 32x-compressed
    // form is asserted on the schema of the CURRENT generation.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val res = graft.queries.StreamingGateQueries
      .queries("stream_ann_ivfpq_persisted_refresh")(spark, sf)
    assert(res.count() > 0)
    val cur = vq.storeLatest(vq.storeLatest(vq.Codec.pq(spark, sf).refreshRoot(sf)))
    val codesType = spark.read.parquet(cur).schema("codes").dataType
    assert(codesType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true),
      s"persisted code column must be array<tinyint>, got $codesType")
    assertRefreshStoreFinalized(sf, vq.Codec.pq(spark, sf).refreshRoot(sf), "vec_id")
  }

  test("per-cell compaction: hot cells collapse to one file, cold cells' files carry over byte-identical") {
    // The r17 verdict's Next #2 contract, pinned structurally: build a
    // store where cells 0-4 accumulated 3 ingest files each and cells
    // 5-9 exactly one, compact at threshold 2 — (a) hot cells
    // collapse to ONE file, (b) cold cells' part files are THE SAME
    // FILES (hard links — Files.isSameFile, not a rewrite), (c) the
    // row set is unchanged, (d) a probe-shaped lookup reads exactly
    // one file per probed cell on both the hot and the cold side.
    val vq = graft.queries.VectorQueries
    val root = tmpDir("cellcmp-root")
    val child = vq.storeNewChild(root)
    writeFixtureStore(child, Seq(0 -> (0 to 9), 1 -> (0 to 4), 2 -> (0 to 4)))
    vq.ivfStoreCommitLatest(root, child)
    val preRows = fixtureRowSet(child)
    assert((0 to 4).forall(c => cellFiles(child, c).size === 3) &&
      (5 to 9).forall(c => cellFiles(child, c).size === 1),
      "fixture must accumulate 3 files in hot cells, 1 in cold")
    val cmp = vq.ivfStoreCompactCells(spark, root, maxFilesPerCell = 2)
    assert(vq.storeLatest(root) === cmp)
    // (a) hot cells: one file
    (0 to 4).foreach { c =>
      assert(cellFiles(cmp, c).size === 1,
        s"hot cell $c must collapse to one file")
    }
    // (b) cold cells: the SAME physical files, not copies
    (5 to 9).foreach { c =>
      val old = cellFiles(child, c)
      val neu = cellFiles(cmp, c)
      assert(neu.size === 1 && old.size === 1)
      assert(java.nio.file.Files.isSameFile(old.head.toPath, neu.head.toPath),
        s"cold cell $c must carry over as a hard link, not a rewrite")
    }
    // (c) row-set equality (modulo the ingest bookkeeping column)
    assert(fixtureRowSet(cmp) === preRows,
      "per-cell compaction must preserve the row set exactly")
    // (d) pruned lookups: one file per probed cell on both sides
    def prunedFiles(cells: Seq[Int]): Long = {
      val pruned = spark.read.parquet(cmp)
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      assert(pruned.collect().nonEmpty)
      pruned.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head.metrics("numFiles").value
    }
    assert(prunedFiles(Seq(0, 1, 2)) === 3L,
      "hot-side probe must read exactly one file per probed cell")
    assert(prunedFiles(Seq(5, 6, 7)) === 3L,
      "cold-side probe must read exactly one file per probed cell")
    // a no-op pass on the already-compact store returns the SAME child
    assert(vq.ivfStoreCompactCells(spark, root, maxFilesPerCell = 2) === cmp,
      "compaction of an already-compact store must be a no-op")
  }

  test("store retention: dropped rows gone, clean cells physically untouched, pruning holds") {
    // The TTL/retention verb (r17 verdict Next #7): age out ingest
    // generations 0 of cells 0-4 (cells 5-9 arrived entirely in
    // ingest 2 and contain nothing to drop) — post-retention the row
    // set equals the predicate-filtered original, untouched cells'
    // files are THE SAME files, affected cells also compact, and the
    // pruned-read invariant holds.
    val vq = graft.queries.VectorQueries
    val root = tmpDir("retain-root")
    val child = vq.storeNewChild(root)
    writeFixtureStore(child, Seq(0 -> (0 to 4), 2 -> (0 to 9)))
    vq.ivfStoreCommitLatest(root, child)
    val expected = fixtureRowSet(child).filter(_._2 >= 2000) // rows of ingest 2
    val kept = vq.ivfStoreRetain(spark, root, col("ingest") >= 1)
    assert(vq.storeLatest(root) === kept)
    assert(fixtureRowSet(kept) === expected,
      "retention must leave exactly the predicate-kept rows")
    (5 to 9).foreach { c =>
      val old = cellFiles(child, c)
      val neu = cellFiles(kept, c)
      assert(old.size === 1 && neu.size === 1)
      assert(java.nio.file.Files.isSameFile(old.head.toPath, neu.head.toPath),
        s"clean cell $c must carry over as a hard link, not a rewrite")
    }
    (0 to 4).foreach { c =>
      assert(cellFiles(kept, c).size === 1,
        s"affected cell $c must rewrite to one compacted file")
    }
    val pruned = spark.read.parquet(kept)
      .filter(col("cell").isin(Seq(1, 2, 6).map(Integer.valueOf): _*))
    assert(pruned.collect().nonEmpty)
    val files = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head.metrics("numFiles").value
    assert(files === 3L,
      s"post-retention probe must read one file per probed cell, read $files")
    // a retention pass with nothing to drop is a no-op
    assert(vq.ivfStoreRetain(spark, root, lit(true)) === kept,
      "retention with nothing to drop must be a no-op")
  }

  test("gate-driven finalize: an append-accumulated run compacts itself and bounds its generations") {
    // The lifecycle's HOT path (the registered gates' schedules end on
    // a rebuild, so their finalize is the no-op walk): drive the
    // persisted-refresh step with an infinite drift threshold — only
    // the initial build, three appended ingest partitions — then
    // finalize: the run must end at a compacted cmp_ child (one file
    // per cell), <= 2 generation-class children, full row set.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val nb = vq.KmMbBatches
    def batch(r: Int) = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % nb === r)
    val st = new vq.KmIvfGenerations(spark, sf, Long.MaxValue,
      new vq.KmGenStore(spark, sf, vq.Codec.raw))
    for (r <- 0 until nb) st.step(batch(r), r.toLong)
    assert(st.rebuildLog === Seq(0L),
      "infinite threshold must leave only the initial build")
    val cur = vq.storeLatest(st.artifact.runRoot)
    assert(cur.endsWith("gen_0"))
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(spark.read.parquet(cur).count() === corpus)
    val fin = vq.ivfStoreFinalize(spark, st.artifact.runRoot)
    assert(fin !== cur, "an append-accumulated run must actually compact")
    assert(vq.storeLatest(st.artifact.runRoot) === fin)
    val kids = new java.io.File(st.artifact.runRoot).listFiles()
      .filter(f => f.isDirectory && (f.getName.startsWith("gen_") ||
        f.getName.startsWith("cmp_")))
    assert(kids.length <= 2,
      s"finalize must bound the run to <= 2 children, got ${kids.map(_.getName).mkString(",")}")
    val perCell = parquetsByCell(fin)
    assert(perCell.size >= 10 && perCell.values.max === 1,
      s"finalized child must hold one file per cell, got $perCell")
    assert(spark.read.parquet(fin).count() === corpus,
      "finalize must preserve every arrived vector")
  }

  test("shared store ingest: a replayed batch id leaves exactly a single ingest's rows, for either codec") {
    // The streaming ingest's exactly-once contract is its layout: a
    // batch lands as its own ingest=<batchId> partitions by dynamic
    // overwrite, so a redelivered batch id rewrites them instead of
    // appending a second copy. Pinned per codec on the multiset of
    // store rows (a duplicated row would survive a set comparison).
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val q = vq.Quantizer.labelMeans(spark, sf)
    val batch = graft.Tables.embeddings(spark, sf).filter(col("vec_id") % 4 === 1)
    val n = batch.count()
    def storeRows(codec: vq.Codec, ingests: Int): Seq[String] = {
      val store = tmpDir("ingest-replay")
      for (_ <- 1 to ingests) vq.storeIngest(codec, q, store, batch, 7L)
      val df = spark.read.parquet(store)
      df.select(df.columns.map(c => col(c).cast("string")): _*)
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    for ((name, codec) <- Seq("raw" -> vq.Codec.raw, "pq" -> vq.Codec.pq(spark, sf))) {
      val once = storeRows(codec, 1)
      assert(once.size.toLong === n, s"$name: one ingest must hold the batch's $n rows")
      val replayed = storeRows(codec, 2)
      val sameRows = replayed == once
      assert(sameRows, s"$name: a replayed batch id must leave the rows of a single " +
        s"ingest (${replayed.size} rows after the replay, ${once.size} after one ingest)")
    }
  }

  test("stream_ann_ivf_persisted_topk: micro-batches APPEND files per cell, pruning still holds") {
    // The streaming-ingest claim made structural: the shared ingest
    // lands each micro-batch as an ingest=<id> partition of NEW files
    // inside the cell directories (inverted lists grow by append —
    // existing lists are never rewritten), and the store stays a
    // pruned-read target.
    val sf = "/root/testdata/sf0.001"
    val vq = graft.queries.VectorQueries
    val res = graft.queries.StreamingGateQueries
      .queries("stream_ann_ivf_persisted_topk")(spark, sf)
    assert(res.count() > 0)
    val store = vq.storeLatest(vq.Codec.raw.root(sf))
    val cellDirs = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length >= 10,
      s"expected >= 10 cell partitions, got ${cellDirs.length}")
    val maxFiles = parquetsByCell(store).values.max
    assert(maxFiles > 1,
      s"expected per-micro-batch file APPEND inside cell dirs, " +
        s"max files per cell = $maxFiles")
    val cells = vq.ivfProbedCells(spark, sf).filter(col("qid") === 42)
      .select("cell").collect().map(_.getInt(0)).toSeq
    val pruned = spark.read.parquet(store)
      .filter(col("cell").isin(cells: _*))
    assert(pruned.collect().nonEmpty)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty,
      "streamed store scan must carry the probed-cell partition filter")
    // compaction (the HyDFS merge analog) on a store that genuinely
    // accumulated per-micro-batch files: one clustered file per cell
    // afterwards, content identical, superseded children dropped
    val preRows = spark.read.parquet(store)
      .select(col("nn_id"), col("cell").cast("int").as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val compacted = vq.ivfStoreCompact(spark, vq.Codec.raw.root(sf), pruneAgeMs = 0L)
    val cmpCells = new java.io.File(compacted).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cmpCells.length === cellDirs.length)
    val cmpMax = cmpCells
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(cmpMax === 1,
      s"compaction must leave ONE file per cell, max = $cmpMax")
    val postRows = spark.read.parquet(compacted)
      .select(col("nn_id"), col("cell").cast("int").as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(postRows === preRows,
      "compaction must preserve the inverted lists' content exactly")
    assert(!new java.io.File(store).exists(),
      "the superseded append-accumulated child must be dropped")
  }

  test("IVF inverted lists: the probe join prunes the cell-partitioned store on both faces") {
    // The claim VectorQueries argued since r10 ("at 10⁹ vectors the
    // assigned corpus is the cell-partitioned table — probe join =
    // partition pruning"), measured (r11 verdict #2): write the
    // cell-assigned corpus partitionBy("cell"), and pin that a probe
    // join reads ONLY the probed cells' files.
    val sf = "/root/testdata/sf0.001"
    val store = tmpDir("ivf-store")
    graft.queries.VectorQueries.ivfAssignedCorpus(spark, sf)
      .write.mode("overwrite").partitionBy("cell").parquet(store)
    def parquetFiles(p: String): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try it.filter(f => f.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    val totalFiles = parquetFiles(store)
    assert(totalFiles >= 10, s"expected >= 10 cell partitions' files, got $totalFiles")
    val probesDir = tmpDir("ivf-probes")
    graft.queries.VectorQueries.ivfProbedCells(spark, sf)
      .write.mode("overwrite").parquet(probesDir)

    // BATCH face: one serving lookup (query 42's probe list) joins the
    // store — dynamic partition pruning turns the join into a read of
    // the NProbe probed cells only.
    withoutAqe {
      val lookup = spark.read.parquet(probesDir).filter(col("qid") === 42)
      val q = spark.read.parquet(store).join(lookup, "cell")
      assert(q.queryExecution.optimizedPlan.toString.contains("dynamicpruning"),
        "probe join must plan a dynamicpruning predicate on the store scan")
      val rows = q.collect().length.toLong
      assert(rows > 0)
      val storeScan = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("ivf-store")) => s
      }.head
      val filesRead = storeScan.metrics("numFiles").value
      info(s"batch probe join: files read $filesRead of $totalFiles")
      assert(filesRead > 0 && filesRead < totalFiles,
        s"probe join must prune the store: read $filesRead of $totalFiles files")
      // and the pruned join equals the unpruned filter — no rows lost
      val cells = spark.read.parquet(probesDir).filter(col("qid") === 42)
        .select("cell").collect().map(_.getInt(0)).toSet
      val expected = spark.read.parquet(store)
        .filter(col("cell").isin(cells.toSeq: _*)).count()  // fresh plan — fine for a row count
      assert(rows === expected)
    }

    // STREAMING face: the serving micro-batch lookup — arriving qids
    // join the probe table, and the sink reads ONLY those cells'
    // partitions from the store (the per-batch inverted-list lookup
    // stream_ann_ivf_topk's doc describes; the probe set per batch is
    // serving-scale tiny, so resolving it in the sink is the
    // production shape, not a driver-side corpus loop).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Long]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val probes = spark.read.parquet(probesDir)
    val sq = ms.toDS().toDF("qid").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cells = batch.join(probes, "qid")
          .select("cell").distinct().collect().map(_.getInt(0)).toSeq
        val pruned = spark.read.parquet(store)
          .filter(col("cell").isin(cells: _*))
        val n = pruned.collect().length.toLong
        val scan = pruned.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s
        }.head
        // non-empty partitionFilters, not a toString contains() — the
        // metadata line prints even with no predicate (code-review r13)
        assert(scan.partitionFilters.nonEmpty,
          "store scan must carry the probed-cell partition filter")
        perBatch += ((scan.metrics("numFiles").value, n))
        ()
      }.start()
    try {
      ms.addData(0L); sq.processAllAvailable()
      ms.addData(7L); sq.processAllAvailable()
    } finally sq.stop()
    assert(perBatch.nonEmpty)
    perBatch.foreach { case (filesRead, rows) =>
      info(s"streaming micro-batch lookup: files read $filesRead of $totalFiles ($rows rows)")
      assert(filesRead > 0 && filesRead < totalFiles,
        s"micro-batch lookup must prune: read $filesRead of $totalFiles files")
    }
  }

  test("SemDeDup admission: each micro-batch reads only the arriving vectors' cells from the store") {
    // stream_semdedup's static side IS the same cell-partitioned
    // storage unit the ANN serving lookup prunes (r12 verdict #7):
    // an arriving vector computes its OWN cell as the pure broadcast
    // expression (semdedupArriving — the gate's shared definition),
    // and the per-micro-batch admission lookup must read ONLY the
    // arriving cells' partitions of the stored admission index, never
    // the full corpus.
    val sf = "/root/testdata/sf0.001"
    val store = tmpDir("sdd-store")
    graft.queries.VectorQueries.ivfAssignedCorpus(spark, sf)
      .write.mode("overwrite").partitionBy("cell").parquet(store)
    def parquetFiles(p: String): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try it.filter(f => f.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    val totalFiles = parquetFiles(store)
    assert(totalFiles >= 10, s"expected >= 10 cell partitions' files, got $totalFiles")
    val quant = graft.queries.VectorQueries.Quantizer.labelMeans(spark, sf)
    val qemb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("qe"))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Long]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sq = ms.toDS().toDF("vec_id").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // arrival-side cell assignment: the gate's own expression
        val cells = graft.queries.VectorQueries
          .semdedupArriving(batch.join(qemb, "vec_id"), quant)
          .select("cell").distinct().collect().map(_.getInt(0)).toSeq
        val pruned = spark.read.parquet(store)
          .filter(col("cell").isin(cells: _*))
        val n = pruned.collect().length.toLong
        val scan = pruned.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s
        }.head
        // a NON-EMPTY partitionFilters list — toString always prints a
        // "PartitionFilters: [...]" entry even with no predicate, so a
        // contains() check would be vacuous (code-review r13)
        assert(scan.partitionFilters.nonEmpty,
          "admission scan must carry the arriving-cell partition filter")
        perBatch += ((scan.metrics("numFiles").value, n))
        ()
      }.start()
    try {
      ms.addData(3L); sq.processAllAvailable()
      ms.addData(11L, 12L); sq.processAllAvailable()
    } finally sq.stop()
    assert(perBatch.size === 2)
    perBatch.foreach { case (filesRead, rows) =>
      info(s"admission micro-batch: files read $filesRead of $totalFiles ($rows rows)")
      assert(filesRead > 0 && filesRead < totalFiles,
        s"admission lookup must prune: read $filesRead of $totalFiles files")
    }
  }

  test("runtime bloom filter: a selective dim filter injects row-level pruning on the fact side") {
    // below the broadcast threshold DPP/broadcast handles it; above,
    // the optimizer can inject a bloom filter built from the filtered
    // dim and apply it on the fact scan side BEFORE the shuffle — the
    // row-level runtime filter that cuts shuffled bytes at 100 TB.
    // Thresholds are floored to force injection at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val q = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val planStr = q.queryExecution.optimizedPlan.toString
      assert(planStr.contains("bloom_filter"),
        s"expected an injected bloom filter in:\n$planStr")
      assert(q.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("global orderBy plans a range exchange (sampled bounds), never a single partition") {
    withoutAqe {
      val df = (1 to 10000).map(i => ((i * 2654435761L) % 997, i)).toDF("k", "v")
        .repartition(8)
        .orderBy(col("k"), col("v"))
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      // the sort's exchange must be RANGE partitioning — each of the N
      // output partitions sorts its own slice in parallel; a global
      // sort that funnels into one partition cannot run at 100 TB
      assert(exchanges.exists(_.toString.contains("rangepartitioning")),
        s"expected a range exchange, got: $exchanges")
      val ks = df.select("k").collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), "range-partitioned sort must be totally ordered")
    }
  }

  test("partial aggregation happens before the shuffle (map-side combine)") {
    withoutAqe {
      val df = (1 to 1000).map(i => (i % 5, i)).toDF("k", "v")
      val agg = df.groupBy("k").count()
      val plan = agg.queryExecution.executedPlan.toString
      // two HashAggregates around one Exchange = partial + final
      assert("HashAggregate".r.findAllIn(plan).length === 2)
      assert("Exchange".r.findAllIn(plan).length === 1)
    }
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // The 100 TB fact-fact join pattern: both sides bucketed on the key
    // at write time -> the join reads co-located buckets and the plan
    // has NO shuffle at all (broadcast disabled to force the SMJ path).
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1 to 1000).map(i => (i % 100, s"a$i")).toDF("k", "va")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
      (1 to 500).map(i => (i % 100, s"b$i")).toDF("k", "vb")
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(j.count() === 5000) // 100 keys x 10 x 5
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "bucketed join must not shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("incremental dedup: no exchange carries document text, only fingerprints") {
    // The point of dedup_incremental at scale: however large the
    // historical store, what shuffles is fingerprint-width rows — the
    // text payload must die at the scans.
    withoutAqe {
      val df = CQ.queries("dedup_incremental")(spark, "/root/testdata/sf0.001")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      val shuffled = exchanges.flatMap(_.output.map(_.name))
      assert(!shuffled.contains("text"),
        s"an exchange carries the text payload: $shuffled")
    }
  }

  test("docs_profile is one pass: a single scan feeds every per-column statistic") {
    // Parallel aggregate expressions (with the multi-distinct Expand)
    // over ONE scan — a profiler that re-scans per column would read
    // the corpus five times.
    withoutAqe {
      val df = CQ.queries("docs_profile")(spark, "/root/testdata/sf0.001")
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.length === 1,
        s"expected one documents scan, found ${scans.length}")
    }
  }

  test("Jaccard dedup plans contain no global (partitionBy-less) Window") {
    // Round-1 regression: shingle interning via row_number over an
    // unpartitioned Window serialized the vocabulary through one
    // partition. Interning is now an inline hash — pin the plan shape.
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh")) {
      val plan = graft.queries.TextQueries.queries(q)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q plan must not contain a Window")
      spark.catalog.clearCache()
    }
    // The prefix-filtered twins DO use a Window (the per-doc rarity
    // rank) — pin that every one of them is doc_id-PARTITIONED; an
    // unpartitioned rank would serialize the corpus through one task.
    for (q <- Seq("dedup_prefix_jaccard", "dedup_prefix_containment")) {
      val plan = graft.queries.TextQueries.queries(q)(spark, d)
        .queryExecution.executedPlan.toString
      val globalWindow = plan.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("doc_id"))
      assert(!globalWindow,
        s"$q: every Window must be partitioned by doc_id")
      spark.catalog.clearCache()
    }
  }

  test("LSH candidate generation is a broadcast join of probes, corpus unshuffled") {
    val d = "/root/testdata/sf0.001"
    val plan = graft.queries.VectorQueries.annCandidates(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "probes must broadcast against the streamed corpus LSH table")
  }

  test("Q5 snowflake: date filter reaches the orders scan, dims broadcast, agg is partial+final") {
    val d = "/root/testdata/sf0.001"
    val q = RQ.queries("q5_local_supplier")(spark, d)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters") &&
      formatted.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      "the order-year predicate must be pushed into the orders parquet scan")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "region/nation chain must broadcast")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "per-nation revenue must partially aggregate before the exchange")
  }

  test("Q6 is scan-shaped: every predicate pushed, no shuffle beyond the scalar combine") {
    val d = "/root/testdata/sf0.001"
    val q = RQ.queries("q6_forecast")(spark, d)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "the ship-date range must reach the parquet scan")
    assert(formatted.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      "the quantity bound must reach the parquet scan")
    val exchanges = q.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      "a scalar aggregate over one scan needs no shuffle (single-partition combine)")
  }

  test("Q10 joins customer AFTER the revenue aggregation and top-20 is a bounded sort") {
    val d = "/root/testdata/sf0.001"
    val q = RQ.queries("q10_returned")(spark, d)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must be per-partition heaps, not a global sort")
    // the optimized plan must aggregate below the customer join: the
    // Aggregate's child subtree must not contain the customer scan
    val opt = q.queryExecution.optimizedPlan
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty)
    assert(!aggs.exists(_.child.toString.contains("c_name")),
      "customer must join the aggregated per-customer rows, not raw lineitems")
  }

  test("correlated scalar subquery decorrelates to one aggregate + join (no per-row subplan)") {
    val d = "/root/testdata/sf0.001"
    val q = RQ.queries("q_correlated_scalar")(spark, d)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      "Catalyst must rewrite the correlated subquery into a join")
    val plan = q.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "the per-customer average must partially aggregate map-side")
  }

  test("salted join: result identical to the plain join, join key carries the salt") {
    val d = "/root/testdata/sf0.001"
    val q = RQ.queries("q_join_salted")(spark, d)
    // the salt must be part of the join key (that IS the mechanism) —
    // visible in the plan whichever physical join gets picked
    val joins = q.queryExecution.executedPlan.toString
    assert(joins.contains("_salt"),
      "the physical join must key on (o_orderkey, _salt)")
    // and it must be invisible in the result: exact match with the
    // unsalted join
    val plain = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        // decimal sum, like the query: order-independent, so the two
        // plans' different summation orders still compare exactly
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val salted = q.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(salted === plain)
  }

  test("sketch aggregates stay within tolerance of exact answers") {
    val d = "/root/testdata/sf0.001"
    val rows = RQ.queries("q_sketch_approx")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, ex) <- exact) {
      val ap = rows(k)._1
      assert(math.abs(ap - ex).toDouble / ex < 0.1,
        s"$k: approx $ap vs exact $ex")
    }
    // the histogram-sketch median's bucket must CONTAIN the exact
    // discrete median (value at rank ceil(n/2)) — the sketch's error
    // bound is exactly one bucket width
    val prices = Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    for ((k, vs) <- prices) {
      val sorted = vs.map(_._2).sorted
      val medianDisc = sorted((sorted.length + 1) / 2 - 1)
      val p50 = rows(k)._2
      assert(medianDisc >= p50 && medianDisc < p50 + 256L,
        s"$k: exact median $medianDisc outside sketch bucket [$p50, ${p50 + 256})")
    }
    // Spark's NATIVE sketches (HLL++ distinct, KLL quantile) stay
    // exercised too — engine-private state keeps them out of the
    // oracle-gated query (q_sketch_approx uses the portable twins),
    // but the API surface and its accuracy remain pinned here.
    val native = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("ap"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    for ((k, ex) <- exact)
      assert(math.abs(native(k)._1 - ex).toDouble / ex < 0.1,
        s"$k: native HLL ${native(k)._1} vs exact $ex")
    for ((k, vs) <- prices) {
      val sorted = vs.map(_._2).sorted
      val lo = sorted(((sorted.length + 1) / 2 - 1 - sorted.length / 100).max(0))
      val hi = sorted(((sorted.length + 1) / 2 - 1 + sorted.length / 100)
        .min(sorted.length - 1))
      assert(native(k)._2 >= lo && native(k)._2 <= hi,
        s"$k: native KLL median ${native(k)._2} outside ±1% rank band [$lo, $hi]")
    }
  }

  test("dedup composite pins no blocks after it returns (localCheckpoint-and-release)") {
    // The hygiene contract for every materialization in a query path: a
    // bare cache() registers in the session CacheManager, which holds a
    // strong reference FOREVER (until someone else clears it) — so a
    // long-lived session composing operators (dedup_minhash_clusters,
    // dedup_e2e_pipeline call dedup_minhash_lsh internally) would pin
    // corpus-sized blocks per invocation. localCheckpoint blocks are
    // instead freed by the ContextCleaner as soon as the frames become
    // unreachable. Run the DEEPEST composite to completion, drop every
    // reference, and assert the block manager drains back to baseline —
    // with a cache() anywhere underneath, the leaked set never empties.
    val d = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    def run(): Unit = {
      assert(graft.queries.TextQueries.queries("dedup_e2e_pipeline")(spark, d)
        .count() > 0)
      // the image composite rides the same device (phash table
      // localCheckpoint + the CC loop's per-round checkpoints)
      assert(graft.queries.MultimodalQueries.queries("mm_dedup_clusters")(spark, d)
        .count() > 0)
    }
    run() // all frames (and their checkpoint RDDs) unreachable from here
    def leaked = sc.getPersistentRDDs.keySet -- baseline
    val deadline = System.currentTimeMillis() + 60000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(leaked.isEmpty, s"blocks still pinned after the composite: $leaked")
  }
}
