package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The reference's user-facing entry point, re-expressed as a library
  * call: `RainStorm <op1_exe> <op2_exe> <hydfs_src> <hydfs_dest>
  * <num_tasks> [pattern]` (main.go:206-222, rainstorm/server.go:88-153)
  * becomes `RainStorm.run(spark, src, op1, op2, dest, numTasks,
  * pattern)`. A user of the reference migrates by mapping each operator
  * executable to an `RsOp`:
  *
  *  - an executable printing 2k alternating key/value lines → `FlatMap`
  *    (the general contract, rainstorm/server.go:334-361), or
  *    `ValueFlatMap` when it never reads its input key;
  *  - an executable printing exactly 1 line → the engine's keyed-COUNT
  *    protocol → `CountByKey` (rainstorm/server.go:344-355).
  *
  * The four in-repo executables ship as builtins (`Ops`). Exactly-once,
  * WAL, replay, and ack/retry need no mapping — Spark's checkpointed
  * execution subsumes them (SURVEY.md §2.3-§2.5).
  */
object RainStorm {

  /** Chaos-kill injection backing the reference's `RainStormWithFail`
    * REPL verb (main.go:223-243: run the job, kill two live op workers
    * 1.5 s in, and show output equivalence; rainstorm/server.go:543-572
    * is the failover that absorbs it). Spark analogue: armed kills
    * throw inside flat-map tasks, killing the task attempt mid-run; the
    * scheduler reschedules the attempt (spark.task.maxFailures=4, the
    * cluster default, set in GraftSession) and lineage/shuffle replay
    * reproduces the lost work — output equivalence is the scheduler's
    * contract instead of a hand-rolled WAL's. Armed kills are
    * RUN-SCOPED: arm(n) parks a pending count that the next run claims
    * as a KillPlan under its own identity, so concurrent runs (or
    * parallel tests) can never absorb each other's kills.
    *
    * The TRANSPORT is selected by master URL at run start (plan):
    * under local[*] a JVM-shared countdown kills the run's next n
    * deliveries wherever they land — the reference's single-box demo
    * shape. On a real cluster a shared countdown cannot reach executor
    * JVMs, so the armed count rides the run's serialized task closure
    * (PartitionKills) and the kill decision becomes a pure function of
    * TaskContext — first attempt of each of the first n non-empty
    * partitions throws once — which needs no cross-JVM state at all.
    * Kills are BEST-EFFORT (at-most-n): a batch flat-map stage
    * partitions by key hash and streaming op1 by file-scan split, so a
    * kill armed on a partition that receives no deliveries is silently
    * absorbed and fewer than n attempts die —
    * counting "n distinct non-empty partitions" exactly would need the
    * cross-JVM state this transport exists to avoid. At-most-n is
    * still as honest as the reference's "kill two live workers": up to
    * n distinct task attempts die, the scheduler recovers.
    *
    * STREAMING under a cluster master takes the epoch-aware variant
    * (EpochPartitionKills): per-task statelessness would otherwise
    * re-fire the closure's kills on every micro-batch's fresh
    * attempt-0 tasks, so the kill decision additionally requires the
    * task's micro-batch id (the scheduler's `streaming.sql.batchId`
    * local property) to equal the armed epoch — run-scoped again,
    * still a pure function of TaskContext.
    */
  object Chaos {
    /** A run's injection plan, embedded in its task closures. */
    sealed trait KillPlan extends Serializable
    /** No kills armed for this run (the common case). */
    case object NoKills extends KillPlan
    /** local[*] transport: JVM-shared countdown — the run's next n
      * deliveries each kill their task attempt, whichever executor
      * thread delivers them.
      */
    final case class RegistryKills(runId: String) extends KillPlan
    /** Cluster transport: the count ships inside the serialized
      * closure; first attempt of each of the first n partitions
      * throws on its first delivery. Run-scoped by construction,
      * reaches every executor JVM. AT-MOST-n: an empty partition
      * among the first n absorbs its kill (nothing delivers there),
      * so under key skew (batch: the FlatMap stage partitions by key
      * hash) fewer than n attempts may die — see the Chaos scaladoc.
      */
    final case class PartitionKills(n: Int) extends KillPlan
    /** Cluster transport for STREAMING runs: like PartitionKills, but
      * additionally epoch-scoped — a kill fires only in tasks of ONE
      * micro-batch (the scheduler's `streaming.sql.batchId` local
      * property, stamped into every streaming task's context, must
      * equal `epoch`). Without the epoch gate the per-task-stateless
      * transport would re-fire on every micro-batch's attempt-0 tasks
      * (n kills per BATCH, not per run — the reason this quadrant
      * used to degrade to NoKills). Still at-most-n, same as the
      * batch transport: an armed partition that receives no
      * deliveries in that micro-batch absorbs its kill. Streaming op1
      * runs on the file source's splits, so partition ids are scan
      * splits, not key hashes (`streamingArmedPartitionsNonEmpty`).
      */
    final case class EpochPartitionKills(n: Int, epoch: Long = 0L) extends KillPlan

    /** Kills armed but not yet claimed by a run. */
    private val pending = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Registry-transport armed kills, RUN-SCOPED: runId → remaining.
      * Deliveries of unarmed runs pay one probe of an (almost always
      * empty) map, nothing more. BOUNDED: a batch run without a dest
      * hands back a lazy frame whose claim must outlive the call (the
      * caller's later action fires it) — if the caller never acts, the
      * cell would sit in this JVM-lifetime map forever, so claims
      * beyond the `RetainClaims` newest evict oldest-first (the same
      * bounded-grace device as PipelineMetricsListener).
      */
    private val runs =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
    private val RetainClaims = 64
    private val claimOrder = new java.util.ArrayDeque[String]()
    private val fired = new java.util.concurrent.atomic.AtomicInteger(0)

    /** Arm the next run started in this JVM to kill `n` task attempts
      * (the reference's KillRandom(n)). The count is claimed by — and
      * scoped to — the NEXT RainStorm.run/runStreaming call.
      */
    def arm(n: Int): Unit = pending.set(math.max(n, 0))

    /** Task-attempt kills injected since JVM start (spec probe; under
      * a multi-JVM cluster each executor counts its own — use the
      * scheduler UI's failed-attempt count there).
      */
    def firedCount: Int = fired.get()

    /** Claim any pending kills for this run, selecting the transport
      * by master URL. */
    private[graft] def plan(runId: String, master: String): KillPlan = {
      val n = pending.getAndSet(0)
      if (n <= 0) NoKills
      // single-JVM masters ONLY: "local" / "local[...]" — NOT
      // local-cluster[...], whose executors are separate JVMs that
      // cannot see this registry (they take the closure transport)
      else if (master == "local" || master.startsWith("local[")) {
        runs.put(runId, new java.util.concurrent.atomic.AtomicInteger(n))
        claimOrder.synchronized {
          claimOrder.addLast(runId)
          while (claimOrder.size > RetainClaims)
            runs.remove(claimOrder.removeFirst())
        }
        RegistryKills(runId)
      } else PartitionKills(n)
    }

    /** Drop a run's registry claim (run teardown; exhausted cells
      * remove themselves in tap; PartitionKills has no JVM state to
      * drop). */
    private[graft] def release(runId: String): Unit = runs.remove(runId)

    /** Called per record delivery on the FlatMap and ValueFlatMap paths
      * with the owning run's plan; only that run's deliveries can fire
      * its kills.
      */
    private[graft] def tap(plan: KillPlan): Unit = plan match {
      case NoKills => ()
      case RegistryKills(runId) =>
        val cell = runs.get(runId)
        if (cell != null) {
          val r = cell.getAndDecrement()
          if (r <= 1) runs.remove(runId)
          if (r > 0) {
            fired.incrementAndGet()
            throw new RuntimeException(
              s"chaos: injected task-attempt kill ($r armed kills remaining)")
          }
        }
      case PartitionKills(n) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.partitionId() < n && tc.attemptNumber() == 0) {
          fired.incrementAndGet()
          throw new RuntimeException(
            s"chaos: injected task-attempt kill (partition ${tc.partitionId()}, attempt 0)")
        }
      case EpochPartitionKills(n, epoch) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.partitionId() < n && tc.attemptNumber() == 0 &&
            tc.getLocalProperty("streaming.sql.batchId") == epoch.toString) {
          fired.incrementAndGet()
          throw new RuntimeException(
            s"chaos: injected task-attempt kill (partition ${tc.partitionId()}, " +
              s"micro-batch $epoch, attempt 0)")
        }
    }
  }

  /** An operator slot in the 3-stage pipeline. */
  sealed trait RsOp
  /** General flat-map contract: (key, value, pattern) → 0..k records. */
  final case class FlatMap(f: (String, String, String) => Seq[(String, String)]) extends RsOp
  /** A flat-map that never reads its input key: (value, pattern) → 0..k
    * records. The stage reads only `value`, so a streaming op1 of this
    * kind never computes the source's content-hash key.
    */
  final case class ValueFlatMap(f: (String, String) => Seq[(String, String)]) extends RsOp
  /** The 1-line COUNT protocol: running count per key. */
  case object CountByKey extends RsOp

  /** Builtin ports of the reference's operator executables. */
  object Ops {
    /** ops/app1op1: emit unchanged iff value contains pattern. */
    val app1op1: RsOp = FlatMap((k, v, p) =>
      if (v.contains(p)) Seq(k -> v) else Seq.empty)

    /** ops/app1op2: CSV-parse value, emit (col2, col3) = (OBJECTID,
      * Sign_Type); malformed rows dropped. Generalized to any column
      * pair via csvProject.
      */
    val app1op2: RsOp = csvProject(2, 3)

    def csvProject(keyIdx: Int, valIdx: Int): RsOp = ValueFlatMap((v, _) =>
      csvFields(v, keyIdx, valIdx).toList)

    /** ops/app2op1: CSV-parse, iff col6 == pattern emit (col8, "1"). */
    val app2op1: RsOp = csvFilterEq(6, 8)

    /** The scan stops at a filter field that is not `p`: such a line
      * emits nothing whatever follows, malformed or not.
      */
    def csvFilterEq(filterIdx: Int, keyIdx: Int): RsOp = ValueFlatMap((v, p) => {
      var key: String = null
      val n = scanCsv(v, i => i == filterIdx || i == keyIdx, (i, f) =>
        (i != filterIdx || f == p) && { if (i == keyIdx) key = f; true })
      if (n > math.max(filterIdx, keyIdx)) key -> "1" :: Nil else Nil
    })

    /** ops/app2op2: echo key → engine COUNT protocol. */
    val app2op2: RsOp = CountByKey

    /** RFC-4180 single-record parse (Go encoding/csv semantics): returns
      * None on malformed input (unterminated quote, stray quote).
      */
    private[graft] def splitCsv(line: String): Option[Array[String]] = {
      val out = Array.newBuilder[String]
      if (scanCsv(line, _ => true, (_, f) => { out += f; true }) < 0) None
      else Some(out.result())
    }

    /** Fields `a` and `b` of one CSV line, as `splitCsv(line)` would give
      * them, from one scan that builds only those two: None when the
      * line is malformed or has at most `max(a, b)` fields.
      */
    private[graft] def csvFields(line: String, a: Int, b: Int): Option[(String, String)] = {
      var fa, fb: String = null
      val n = scanCsv(line, i => i == a || i == b,
        (i, f) => { if (i == a) fa = f; if (i == b) fb = f; true })
      if (n > math.max(a, b)) Some((fa, fb)) else None
    }

    /** The one CSV scanner: a single pass over `line` that hands field i
      * to `put` iff `keep(i)`, in field order, and builds no string for
      * any other field. Returns the field count, or -1 when `put` stops
      * the scan by returning false or when the line is malformed — an
      * unterminated quote, or a quote that does not open a field — in
      * which case the fields already put are to be dropped.
      * A quoted field may go on unquoted after its closing quote
      * (`"a"b` is `ab`).
      */
    private def scanCsv(line: String, keep: Int => Boolean,
                        put: (Int, String) => Boolean): Int = {
      val n = line.length
      var i = -1 // the comma before the current field
      var field = -1
      while (i < n) {
        i += 1
        field += 1
        val kept = keep(field)
        if (i < n && line.charAt(i) == '"') {
          val sb = if (kept) new java.lang.StringBuilder else null
          var inQ = true
          i += 1
          while (i < n && (inQ || line.charAt(i) != ',')) {
            val c = line.charAt(i)
            if (!inQ) { if (c == '"') return -1; if (kept) sb.append(c) }
            else if (c != '"') { if (kept) sb.append(c) }
            else if (i + 1 < n && line.charAt(i + 1) == '"') { if (kept) sb.append('"'); i += 1 }
            else inQ = false
            i += 1
          }
          if (inQ) return -1
          if (kept && !put(field, sb.toString)) return -1
        } else {
          val start = i
          while (i < n && line.charAt(i) != ',') {
            if (line.charAt(i) == '"') return -1
            i += 1
          }
          if (kept && !put(field, line.substring(start, i))) return -1
        }
      }
      field + 1
    }
  }

  /** One stage over the `(key, value)` string records every stage
    * reads and writes — the reference's Record without its id, which no
    * stage here reads (exactly-once comes from the checkpoint, not from
    * id dedup). A FlatMap stage is a typed flatMap, after a key-hash
    * exchange into `exchange` partitions when one is given and on its
    * input's own partitions otherwise; a ValueFlatMap stage is the same
    * over `value` alone, so a key the stage never reads is pruned from
    * the plan below it (the batch exchange still hashes it); CountByKey
    * is the keyed count (its own aggregation exchange), its value the
    * count as a string, so any stage may follow it in batch.
    */
  private def applyOp(df: DataFrame, op: RsOp, pattern: String, exchange: Option[Int],
                      plan: Chaos.KillPlan): DataFrame = {
    import df.sparkSession.implicits._
    // stage boundary: the reference hash-exchanges on key between
    // stages (rainstorm/server.go:384-390), numTasks ≈ partitions.
    // Streaming op1 takes none: it runs on the file source's splits,
    // and its one exchange is the one before op2.
    def input = exchange.fold(df)(applyOpInput(df, _))
    op match {
      case FlatMap(f) =>
        input.as[(String, String)].flatMap { case (k, v) =>
          Chaos.tap(plan) // no-op unless THIS run claimed armed kills
          f(k, v, pattern)
        }.toDF("key", "value")
      case ValueFlatMap(f) =>
        input.select(col("value")).as[String].flatMap { v =>
          Chaos.tap(plan)
          f(v, pattern)
        }.toDF("key", "value")
      case CountByKey =>
        df.groupBy(col("key")).agg(count(lit(1)).as("value"))
          .select(col("key"), col("value").cast("string").as("value"))
    }
  }

  /** Batch source with the reference's EXACT record identity: key =
    * "<srcFile>:<lineNo>", 1-based PER FILE (rainstorm/server.go:
    * 427-439) — so duplicate identical lines stay distinct records.
    * When src is a directory, each contained file gets its own 1-based
    * line numbering under its own path (a global index under the
    * directory name would diverge from the reference's per-file
    * identity). Hidden files (`_`/`.` prefixes) are skipped, matching
    * what a plain textFile scan would read. Each file is read via its
    * FULLY QUALIFIED path (scheme+authority preserved — a bare
    * `/dir/f.csv` would re-resolve against the default FS on a cluster
    * whose defaultFS differs from the source's); the record key uses
    * the scheme-less path, the closest analogue of the reference's
    * plain file name. An empty directory yields an empty frame, like
    * the plain textFile scan it replaced. `src` may also be a glob
    * (star patterns, e.g. dir/star.csv) — resolved via globStatus,
    * matching what the textFile scan accepted; a glob matching nothing
    * is empty, a non-glob path that doesn't exist still throws.
    * Divergence, pinned in RainStormSpec: DIRECTLY addressing a hidden
    * file (`_`/`.` prefix) yields an empty frame — spark.read.text
    * applies its hidden-file filter even to explicitly listed paths —
    * where a plain open of the named file would have read it. Hidden
    * files are metadata by Spark convention (`_SUCCESS`, `.crc`);
    * treating an explicit address differently from a listing would make
    * record identity depend on how the path was spelled.
    *
    * Scale shape — ONE scan for ANY file count: every file feeds a
    * single `spark.read.text` (the previous design built one driver-
    * side RDD — plus a zipWithIndex sizing job per multi-split file —
    * PER FILE and union'd them, which melts the driver on a large
    * directory). Line numbers come from the repo's two-pass distributed
    * rank device (docs_interleave's): `_metadata.file_block_start`
    * identifies each input split; pass 1 aggregates per-(file, split)
    * line counts into a BOUNDED table (one row per ~128 MB split) whose
    * per-file cumulative window yields each split's starting line
    * offset; pass 2 attaches the within-split ordinal narrowly in
    * mapPartitions — a split's rows are one contiguous in-order run
    * inside its file partition (FilePartitions pack whole
    * PartitionedFiles, read sequentially), so a reset-on-boundary
    * counter is exact and nothing shuffles before the offset join.
    * The streaming source keys by content hash instead (a stream cannot
    * assign stable line ordinals) — divergence pinned in RainStormSpec.
    */
  private def sourceBatch(spark: SparkSession, src: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(src)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus: null = no-glob path that doesn't exist (keep the
    // FileNotFound contract); empty = a glob that matched nothing.
    val matched = Option(hfs.globStatus(p)).getOrElse(
      throw new java.io.FileNotFoundException(src))
    val files: Seq[String] = matched.toSeq.flatMap { st =>
      if (st.isDirectory)
        hfs.listStatus(st.getPath).iterator
          .filter(_.isFile)
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
          .map(_.getPath.toString)
          .toSeq
      else Seq(st.getPath.toString)
    }
    if (files.isEmpty)
      return spark.emptyDataset[(String, String)].toDF("key", "value")
    val lines = spark.read.text(files: _*).select(
      col("value"),
      col("_metadata.file_path").as("fp"),
      col("_metadata.file_block_start").as("bs"))
    // pass 1: per-split line counts (map-side partial agg down to one
    // row per split), then each split's starting line offset via a
    // cumulative window over that bounded table — partitioned by file
    // (entity key: rows per file = that file's split count), never by
    // corpus
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("bs"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = lines.groupBy(col("fp"), col("bs"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("base", coalesce(sum(col("cnt")).over(win), lit(0L)))
      .select(col("fp"), col("bs"), col("base"))
    // pass 2: within-split 1-based ordinal, attached narrowly. The key
    // path must be the DECODED scheme-less path — the same value the
    // listing side's Path.toUri.getPath produces, so record identity
    // stays address-independent. _metadata.file_path arrives
    // percent-ENCODED (Spark renders it via Path.toUri.toString), so
    // java.net.URI is the decoder; hadoop Path(String) would keep
    // "my%20file" literal and corrupt the key for any filename with a
    // space or '%' (spec-pinned). The Path route remains only as the
    // fallback should a future Spark hand back a raw (URI-illegal)
    // path that URI refuses to parse. The
    // reset-on-boundary counter is exact ONLY while each (file, split)
    // pair is one contiguous run inside its partition — a stable but
    // non-contractual property of the file scan (FilePartitions pack
    // whole PartitionedFiles, read sequentially) — so a recurring pair
    // RAISES instead of silently misnumbering lines if a future Spark
    // changes the packing.
    val withOrd = lines.as[(String, String, Long)].mapPartitions { it =>
      var curFp: String = null
      var curBs = -1L
      var kp: String = null
      var n = 0L
      val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
      it.map { case (v, fp, bs) =>
        if (fp != curFp || bs != curBs) {
          if (!seen.add((fp, bs)))
            throw new IllegalStateException(
              s"sourceBatch: split ($fp, $bs) recurred after a boundary — " +
                "file-scan rows are no longer contiguous per split; " +
                "line numbering would be wrong")
          if (fp != curFp) kp =
            try new java.net.URI(fp).getPath
            catch { case _: java.net.URISyntaxException =>
              new org.apache.hadoop.fs.Path(fp).toUri.getPath }
          curFp = fp; curBs = bs; n = 0L
        }
        n += 1
        (v, fp, bs, kp, n)
      }
    }.toDF("value", "fp", "bs", "kp", "ord")
    // offset join: offs is split-count-sized — AQE broadcasts it while
    // small; at extreme scale a (fp, bs)-keyed shuffle join is correct
    withOrd.join(offs, Seq("fp", "bs"))
      .select(concat(col("kp"), lit(":"), col("base") + col("ord")).as("key"),
        col("value"))
  }

  /** How many of the first `n` op1-stage partitions are NON-EMPTY for
    * (src, numTasks) — probed on the exact frame applyOp hands op1
    * (sourceBatch repartitioned on key), so the partition ids match
    * the run's. PartitionKills is at-most-n: a partition receiving no
    * deliveries fires nothing, so a kill-count gate (ClusterCheck)
    * must pre-assert the armed partitions are non-empty — otherwise
    * key skew or a data-shape change would fail the gate spuriously
    * while the transport behaved exactly as specified.
    */
  private[graft] def op1ArmedPartitionsNonEmpty(spark: SparkSession, src: String,
                                                numTasks: Int, n: Int): Long =
    applyOpInput(sourceBatch(spark, src), numTasks)
      .select(spark_partition_id().as("p"))
      .filter(col("p") < n)
      .distinct()
      .count()

  /** Streaming twin of the probe above, for the epoch transport:
    * streaming op1 runs with no exchange, on the file source's splits,
    * so its armed partitions are the first `n` file-scan partitions of
    * micro-batch 0. Probed with a batch read of the same files — the
    * same file list and split sizing give the same scan partitions.
    */
  private[graft] def streamingArmedPartitionsNonEmpty(
      spark: SparkSession, srcDir: String, n: Int): Long =
    spark.read.text(srcDir)
      .select(spark_partition_id().as("p"))
      .filter(col("p") < n)
      .distinct()
      .count()

  /** The key-hash exchange before a batch flat-map stage — factored so
    * the batch chaos pre-probe above sees the same partitioning as the
    * real run. */
  private def applyOpInput(df: DataFrame, numTasks: Int): DataFrame =
    df.repartition(numTasks, col("key"))

  /** Per-stage kill plans for a run. The closure transports
    * (PartitionKills, EpochPartitionKills) are stateless per task, so
    * arming BOTH stages would fire n kills in each (2n per run, vs the
    * armed n): scope them to the FIRST flat-map stage — only FlatMap and
    * ValueFlatMap deliveries tap the plan, so scoping to op1
    * unconditionally would silently disarm a (CountByKey, FlatMap) run.
    * The registry transport counts down globally and stays armed across
    * both stages, like the reference.
    * (A CountByKey/CountByKey run has no tap path under EITHER
    * transport — nothing to kill in a pipeline with no user-operator
    * deliveries.)
    */
  private[graft] def stagePlans(plan: Chaos.KillPlan,
                                op1: RsOp): (Chaos.KillPlan, Chaos.KillPlan) =
    plan match {
      case k @ (Chaos.PartitionKills(_) | Chaos.EpochPartitionKills(_, _)) =>
        if (op1 != CountByKey) (k, Chaos.NoKills) else (Chaos.NoKills, k)
      case p => (p, p)
    }

  /** Batch run: source → op1 → [exchange] → op2 → dest (one text-like
    * csv line `key,value` per record, matching the leader's
    * `<key, value>` sink format, rainstorm/types.go:79). Returns the
    * result frame; pass dest = None to skip the write.
    */
  def run(spark: SparkSession, src: String, op1: RsOp, op2: RsOp,
          dest: Option[String], numTasks: Int = 3, pattern: String = ""): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString
    // any kills armed for the next run are OURS alone; transport by master
    val plan = Chaos.plan(runId, spark.sparkContext.master)
    val (op1Plan, op2Plan) = stagePlans(plan, op1)
    val out = applyOp(
      applyOp(sourceBatch(spark, src), op1, pattern, Some(numTasks), op1Plan),
      op2, pattern, Some(numTasks), op2Plan)
      .select(col("key"), col("value")) // sink format, rainstorm/types.go:79
    // With a dest the job executes HERE — release the claim after it
    // (exhausted cells self-remove in tap; release covers a job that
    // failed before firing every kill). Without a dest the returned
    // frame is lazy: the claim must outlive this call so the caller's
    // later action can still fire it.
    dest.foreach { d =>
      try out.write.mode("overwrite").csv(d)
      finally Chaos.release(runId)
    }
    out
  }

  /** Streaming run with checkpointed exactly-once, draining available
    * input (AvailableNow): the reference's long-running job shape with
    * its WAL/replay machinery replaced by the checkpoint. Source records
    * are keyed `srcDir:md5(value)` — a stream cannot assign stable line
    * ordinals — and a FlatMap op1 reads that key; a ValueFlatMap op1
    * never reads it, so the plan computes no hash. Op1 runs on the file
    * source's splits, with no exchange before it, so the pipeline has
    * one exchange, the reference's only one: CountByKey's aggregation
    * exchange, or a key-hash exchange into `numTasks` partitions before
    * a flat-map op2.
    */
  def runStreaming(spark: SparkSession, srcDir: String, op1: RsOp, op2: RsOp,
                   queryName: String, checkpoint: String,
                   numTasks: Int = 3, pattern: String = ""): StreamingQuery = {
    require(!(op1 == CountByKey && op2 != CountByKey),
      "CountByKey followed by a flat-map is not supported in streaming mode: " +
        "Structured Streaming cannot apply a row-generating transform after " +
        "a streaming aggregation. Run this combination in batch (RainStorm.run).")
    require(!(op1 == CountByKey && op2 == CountByKey),
      "CountByKey followed by CountByKey is not supported in streaming mode: " +
        "Structured Streaming does not allow chained streaming aggregations " +
        "in this output mode. Run this combination in batch (RainStorm.run).")
    val runId = java.util.UUID.randomUUID().toString
    // Run-scoped, like the batch path. Streaming + CLUSTER master is
    // the combination the plain closure transport cannot express
    // honestly — every micro-batch re-executes the closure with fresh
    // attempt-0 tasks, so PartitionKills(n) would fire n kills per
    // BATCH, not per run (observed contract since r6; the quadrant
    // degraded to NoKills through r9). The epoch-aware transport
    // closes it: the kill decision additionally requires the task's
    // `streaming.sql.batchId` local property to equal the armed epoch
    // (micro-batch 0 — with AvailableNow and no file cap, the batch
    // that carries the data), restoring the run-scoped at-most-n
    // semantics with still no cross-JVM state. Proven under
    // local-cluster[2,2,3072] in ClusterCheck's streaming chaos gate.
    val plan = Chaos.plan(runId, spark.sparkContext.master) match {
      case Chaos.PartitionKills(n) => Chaos.EpochPartitionKills(n, epoch = 0L)
      case p                       => p
    }
    // the registry transport counts down globally across both stages
    // (stagePlans hands it back unchanged for both); the epoch
    // transport is stage-scoped like the batch closure one
    val (op1Plan, op2Plan) = stagePlans(plan, op1)
    val src = spark.readStream.text(srcDir)
      .select(concat(lit(srcDir), lit(":"), md5(col("value"))).as("key"),
        col("value"))
    val out = applyOp(applyOp(src, op1, pattern, None, op1Plan),
      op2, pattern, Some(numTasks), op2Plan)
      .select(col("key"), col("value"))
    val mode =
      if (op2 == CountByKey || op1 == CountByKey) OutputMode.Complete()
      else OutputMode.Append()
    val q = out.writeStream.outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName(queryName).start()
    // Release the registry claim when THIS query terminates — without
    // it, a query that dies (or a caller that never drains every armed
    // kill) leaks its countdown cell in the JVM-lifetime map. The
    // isActive check after registration covers the race where an
    // AvailableNow drain finishes before the listener lands (release
    // is an idempotent remove; PartitionKills has nothing to drop).
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          Chaos.release(runId)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!q.isActive) {
      Chaos.release(runId)
      spark.streams.removeListener(listener)
    }
    q
  }
}
