package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points and writes `result.json` (metrics, checks, raw
  * samples) and, when traced, `spans.json` into `--out`.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out DIR [--data DIR]
  */
object Main {
  def main(args: Array[String]): Unit = {
    // Spark's non-daemon threads must not hold the JVM open either way
    val code = try { runWorkload(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def runWorkload(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(opts("trace") == "1", opts("out"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val result = try opts("workload") match {
      case "rainstorm_stream" => RainstormWorkload.run(run, seed, seconds)
      case "rainstorm_drain" => RainstormWorkload.drainOnly(run, seed)
      case "index_refresh" => IndexWorkload.run(run, opts("data"), seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally run.close()
    run.writeJson("result.json", result ++ Map(
      "tmp_bytes_left" -> run.tmpBytesLeft,
      "calls" -> run.calls.size,
      "failed_calls" -> run.calls.count(!_.ok),
      "calls_by_query" -> run.calls.groupBy(_.span.name).map { case (k, v) => k -> v.size }))
    if (run.traced) run.writeJson("spans.json", Map("spans" -> run.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)
    }))
  }
}

/** One benchmark call: its span and whether it passed. */
final case class Call(span: Span, ok: Boolean)

/** Shared run state: the session, the calls made, and their spans. */
final class Run(val traced: Boolean, outDir: String) {
  var spark: SparkSession = _
  val spans = ArrayBuffer[Span]()
  val calls = ArrayBuffer[Call]()
  private var ids = 0
  def nextId(): Int = { ids += 1; ids }
  var tmpBytesLeft = 0L

  /** Set-up as a user pays it: the session start in a fresh JVM, then the
    * workload's warm cycle (its first calls, which load classes and
    * compile code) on that session.
    */
  def setup(warm: => Unit): Map[String, Double] = {
    val t = Trace.nowMs
    spark = GraftSession.local("perfbench")
    val create = (Trace.nowMs - t) / 1e3
    val w = Trace.nowMs
    warm
    val warmS = (Trace.nowMs - w) / 1e3
    Map("create_s" -> create, "warm_s" -> warmS, "setup_s" -> (create + warmS))
  }

  /** Times `body` as one call into `layer`; a throw is a failed call. */
  def call[T](layer: String, name: String, phase: String)(body: => T): (Option[T], Span) = {
    val start = Trace.nowMs
    val r = Try(body)
    val end = Trace.nowMs
    r.failed.foreach(e => System.err.println(s"call $name failed: $e"))
    val sp = Span(nextId(), 0, layer, name, start, end, Map("phase" -> phase))
    spans += sp
    calls += Call(sp, r.isSuccess)
    if (traced) Trace.drain(spark.sparkContext)
    (r.toOption, sp)
  }

  /** Marks the most recent call failed (its output did not check). */
  def failLast(): Unit = calls(calls.size - 1) = calls.last.copy(ok = false)

  /** Per-layer figures of a traced call; its engine spans join the trace. */
  def attribute(sp: Span): Map[String, Double] = {
    val (children, figures) = Trace.attribute(sp, () => nextId())
    spans ++= children
    figures
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    tmpBytesLeft = Files.walk(Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
  }

  def writeJson(name: String, v: Any): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(outDir, name), m.writeValueAsBytes(v))
  }

  def workDir(name: String): File = {
    val d = new File(outDir, name)
    d.mkdirs()
    d
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).filter(p => Files.isRegularFile(p))
      .mapToLong(p => Files.size(p)).sum()

  /** Median per-key figure over a set of traced calls (0 when none). */
  def medianOf(figs: Seq[Map[String, Double]], key: String): Double =
    if (figs.isEmpty) 0.0 else median(figs.map(_.getOrElse(key, 0.0)))
}
