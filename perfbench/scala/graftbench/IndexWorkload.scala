package graftbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry

/** Closed loop, one client: each cycle calls the persisted-index refresh
  * gate, then serves the registered query set from a freshly built
  * persisted store, over a seeded corpus in `data` (an sf-style table
  * directory). Every result is compared with the warm cycle's; the warm
  * results go to `results/<query>` for the oracle check.
  */
object IndexWorkload {
  val Calls: Seq[(String, String)] = Seq(
    "gate" -> "stream_ann_ivf_persisted_refresh",
    "query" -> "ann_ivf_persisted_topk")

  def run(run: Run, data: String, seconds: Double): Map[String, Any] = {
    val reference = mutable.Map[String, Seq[String]]()
    val resultsDir = run.workDir("results")

    def pass(phase: String): Seq[(String, String, Span)] = Calls.map { case (layer, q) =>
      val (got, sp) = run.call(layer, q, phase) {
        val df = SparkEntry.queries(q)(run.spark, data)
        (df.schema, df.collect())
      }
      got.foreach { case (schema, rows) =>
        val canon = rows.map(_.toString).sorted.toSeq
        reference.get(q) match {
          case Some(c) => if (c != canon) run.failLast()
          case None =>
            reference(q) = canon
            run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.parquet(new File(resultsDir, q).getPath)
        }
      }
      (layer, q, sp)
    }

    val setup = run.setup(pass("warm"))
    val passes = mutable.ArrayBuffer[Seq[(String, String, Span)]]()
    val t0 = Trace.nowMs
    var last = 0.0
    // stop when another cycle would overrun the measuring window
    do {
      val p = pass("measure")
      passes += p
      last = p.map(_._3.dur).sum
    } while (Trace.nowMs - t0 + last <= seconds * 1000)
    val rows = run.spark.read.parquet(s"$data/embeddings.parquet").count()

    val calls = passes.flatten.toSeq
    val walls = calls.map(_._3.dur / 1e3)
    val cycles = passes.map(_.map(_._3.dur / 1e3).sum).toSeq
    val figs: Map[Int, Map[String, Double]] =
      if (run.traced) calls.map(c => c._3.id -> run.attribute(c._3)).toMap else Map.empty
    val fig = (sp: Span) => figs.getOrElse(sp.id, Map.empty[String, Double])
    // per-cycle sums of a figure, median over cycles
    val cyc = (k: String) =>
      if (figs.isEmpty) 0.0 else Stats.median(passes.map(_.map(c => fig(c._3).getOrElse(k, 0.0)).sum).toSeq)
    def of(q: String) = calls.filter(_._2 == q).map(c => fig(c._3)).filter(_.nonEmpty)
    val gates = Calls.filter(_._1 == "gate").flatMap(c => of(c._2))
    val perQuery = Calls.flatMap { case (layer, q) =>
      val qs = of(q)
      val wall = Stats.median(calls.filter(_._2 == q).map(_._3.dur / 1e3))
      if (layer == "gate") Seq(s"gate.${q}_s" -> wall)
      else Seq(s"query.${q}_s" -> wall,
        s"query.$q.jobs" -> Stats.medianOf(qs, "jobs"),
        s"query.$q.shuffle_bytes" -> (if (qs.isEmpty) 0.0
          else Stats.median(qs.map(f => f("shuffle_read_bytes") + f("shuffle_write_bytes")))))
    }
    val jobS = cyc("job_s")
    Map(
      "end_to_end" -> Map(
        "setup_s" -> setup("setup_s"),
        "latency_p50_s" -> Stats.quantile(walls, 0.5),
        "latency_p90_s" -> Stats.quantile(walls, 0.9),
        "cycle_s" -> Stats.median(cycles),
        "drain_rps" -> rows * calls.size / walls.sum),
      "per_layer" -> (Map(
        "session.create_s" -> setup("create_s"),
        "session.warm_s" -> setup("warm_s"),
        "stream.batches" -> Stats.medianOf(gates, "batches"),
        "stream.input_rows" -> Stats.medianOf(gates, "input_rows"),
        "stream.addBatch_s" -> Stats.medianOf(gates, "addBatch_s"),
        "stream.bookkeeping_s" -> Stats.medianOf(gates, "bookkeeping_s"),
        "spark.jobs" -> cyc("jobs"),
        "spark.tasks" -> cyc("tasks"),
        "spark.task_failures" -> figs.values.map(_("task_failures")).sum,
        "spark.job_s" -> jobS,
        "spark.driver_only_s" -> cyc("driver_only_s"),
        "spark.driver_only_frac" -> (if (figs.isEmpty) 0.0 else cyc("driver_only_s") / cyc("wall_s")),
        "spark.shuffle_read_bytes" -> cyc("shuffle_read_bytes"),
        "spark.shuffle_write_bytes" -> cyc("shuffle_write_bytes"),
        "spark.spill_bytes" -> cyc("spill_bytes"),
        "gate.jobs_per_batch" -> Stats.medianOf(gates, "jobs_per_batch"),
        "gate.driver_only_s" -> Stats.medianOf(gates, "driver_only_s"),
        "store.generations" -> Stats.medianOf(gates, "generations"),
        "store.files_written" -> cyc("files_written"),
        "store.bytes_written" -> cyc("bytes_written")) ++ perQuery),
      "samples" -> Map(
        "setup" -> setup,
        "cycles_s" -> cycles,
        "calls" -> calls.map { case (layer, q, sp) =>
          Map("layer" -> layer, "query" -> q, "wall_s" -> sp.dur / 1e3) ++ fig(sp)
        },
        "corpus_rows" -> rows),
      "oracle_sql" -> Calls.map { case (_, q) => q -> SparkEntry.oracleSql(q) }.toMap)
  }
}
