package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.{GraftSession, RainStorm}

/** TrafficSigns-shaped CSV lines (20 columns, quoted fields with doubled
  * quotes, a few malformed lines, skewed `category`) and the App-2 answer
  * they imply: per-`category` counts of well-formed lines whose
  * `sign_post` is the pattern. Deterministic in the seed.
  */
final class SignGen(seed: Long) {
  private val r = new SplittableRandom(seed)
  private var objectId = 0L

  private val categories = Array("Warning", "Regulatory", "Guide", "School",
    "Street Name", "Parking", "Construction", "Recreation", "Service", "Marker",
    "Object Marker", "Other")
  // Zipf(1.1) over categories: the first key carries about a third
  private val catCdf = {
    val w = categories.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val posts = Array("U-Channel", "Wood Post", "Mast Arm", "Signal Pole",
    "Street Light", " ")
  private val signTypes = Array("Streetname - Mast Arm", "Stop", "Speed Limit 30",
    "\"No Parking, Any Time\"", "Yield", "\"School \"\"Zone\"\" Ahead\"")
  private val sizes = Array("\"16\"\" X 42\"\"\"", "\"24\"\" X 24\"\"\"", "\"30\"\" X 30\"\"\"", " ")
  private val codes = Array("W14-2", "R1-1", "D3-1", "S1-1", "R7-1", "M1-4")

  private def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
  private def category(): String = {
    val u = r.nextDouble()
    categories(catCdf.indexWhere(_ >= u) max 0)
  }
  private def hex(sb: StringBuilder, n: Int): Unit =
    (0 until n).foreach(_ => sb += "0123456789ABCDEF".charAt(r.nextInt(16)))

  /** Appends one line and its newline; `forceMatch` makes it a well-formed
    * pattern match. Adds the line's contribution to `expected`.
    */
  def line(sb: StringBuilder, pattern: String, expected: mutable.Map[String, Long],
           forceMatch: Boolean = false): Unit = {
    objectId += 1
    val cat = category()
    val isMatch = forceMatch || r.nextDouble() < 0.3
    val post = if (isMatch) pattern else pick(posts)
    // an unterminated quote (1) or a stray quote inside a field (2): the
    // operator's CSV parse rejects the line, pattern or not
    val malformed = if (!forceMatch && r.nextInt(200) == 0) 1 + r.nextInt(2) else 0
    sb ++= "-98" ++= r.nextInt(10000, 100000).toString += '.' ++= r.nextInt(100, 1000).toString
    sb ++= ",48" ++= r.nextInt(10000, 100000).toString += '.' ++= r.nextInt(100, 1000).toString
    sb += ',' ++= objectId.toString
    sb += ',' ++= pick(signTypes)
    sb += ',' ++= (if (malformed == 1) "\"16\"\" X 42" else pick(sizes))
    sb ++= ", ,"
    if (r.nextInt(4) == 0) sb += '"' ++= post += '"' else sb ++= post
    sb += ',' ++= (if (r.nextBoolean()) (1990 + r.nextInt(35)).toString else " ")
    sb += ',' ++= cat
    sb += ',' ++= (if (malformed == 2) "Rep\"laced"
      else if (r.nextInt(3) == 0) "\"Replaced, " + (2000 + r.nextInt(25)) + "\"" else " ")
    sb += ',' ++= pick(codes) ++= ",Champaign,"
    sb ++= r.nextInt(1, 100000).toString ++= ", ,"
    sb ++= (if (r.nextBoolean()) "Yes" else "No")
    sb ++= ",Zone " ++= r.nextInt(1, 9).toString
    sb += ',' ++= (if (r.nextInt(5) == 0) "\"SLOW\"" else " ")
    sb += ',' ++= r.nextInt(1, 5000).toString ++= ",Y,{"
    hex(sb, 8); sb += '-'; hex(sb, 4); sb += '-'; hex(sb, 4); sb += '-'; hex(sb, 4); sb += '-'
    hex(sb, 12)
    sb ++= "}\n"
    if (malformed == 0 && isMatch) expected(cat) = expected.getOrElse(cat, 0L) + 1
  }

  /** A file of `n` lines, UTF-8 BOM first, first line a guaranteed match. */
  def file(n: Int, pattern: String, expected: mutable.Map[String, Long]): String = {
    val sb = new StringBuilder(n * 200)
    sb += '\uFEFF'
    line(sb, pattern, expected, forceMatch = true)
    (1 until n).foreach(_ => line(sb, pattern, expected))
    sb.result()
  }
}

/** The reference's App-2 (filter `sign_post == pattern`, running count per
  * `category`) through `RainStorm.runStreaming`, called back to back on one
  * checkpoint while an open-loop generator lands files on a fixed schedule;
  * then closed-loop calls of a fixed increment on the same checkpoint, and
  * a fixed backlog drained from scratch.
  */
object RainstormWorkload {
  val Pattern = "Punched Telespar"
  val RecordsPerSecond = 30000
  val FileMs = 250
  val LinesPerFile: Int = RecordsPerSecond * FileMs / 1000
  val Backlog = 1000000
  val BacklogFiles = 40
  val DrainReps = 3
  val WarmCalls = 2
  /** Open-loop lead-in whose files and calls are not measured: the client
    * starts one file behind, and its call times settle over a few calls.
    */
  val RampMs = 4000
  /** Files each closed-loop call drains: one second of the open loop's rate. */
  val ClosedFiles: Int = 1000 / FileMs
  val MinClosedCalls = 5

  private def numTasks: Int = GraftSession.cpus.toInt

  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))

  /** One `runStreaming` call to completion; the Complete-mode counts. */
  private def drainCall(run: Run, src: File, ckpt: File, name: String): Map[String, Long] = {
    val q = RainStorm.runStreaming(run.spark, src.getPath, RainStorm.Ops.app2op1,
      RainStorm.Ops.app2op2, name, ckpt.getPath, numTasks, Pattern)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    run.spark.table(name).collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toMap
  }

  def run(run: Run, seed: Long, seconds: Double): Map[String, Any] = {
    val gen = new SignGen(seed)
    val rampFiles = RampMs / FileMs
    val nFiles = rampFiles + math.ceil(seconds * 1000 / FileMs).toInt
    val stage = run.workDir("stage")
    val src = run.workDir("src")
    // inputs first, outside every timed span: file i lands at t0 + i*FileMs
    val genStart = Trace.nowMs
    val expected = mutable.Map[String, Long]()
    val cum = new Array[Long](nFiles)
    (0 until nFiles).foreach { i =>
      write(new File(stage, f"f$i%06d.csv"), gen.file(LinesPerFile, Pattern, expected))
      cum(i) = expected.values.sum
    }
    val backlog = makeBacklog(run, seed)
    val inputsS = (Trace.nowMs - genStart) / 1e3

    val warmSrc = run.workDir("warm_src")
    val warmCkpt = new File(run.workDir("warm"), "ckpt")
    // warm cycle: one backlog drain, then small calls on one checkpoint
    // (the first builds the state store, the second restores it), so the
    // timed phases run on compiled code
    val setup = run.setup {
      drainBacklog(run, backlog, "warm_drain")
      val wgen = new SignGen(seed ^ 0x5eedL)
      val wexp = mutable.Map[String, Long]()
      (0 until WarmCalls).foreach { i =>
        write(new File(warmSrc, s"w$i.csv"), wgen.file(LinesPerFile / 4, Pattern, wexp))
        val (got, _) = run.call("rainstorm", "runStreaming", "warm") {
          drainCall(run, warmSrc, warmCkpt, "rs_warm")
        }
        if (!got.contains(wexp.toMap)) run.failLast()
      }
    }
    val drainWalls = (0 until DrainReps).map(i => drainBacklog(run, backlog, s"drain$i"))

    // open loop: a generator thread lands files on schedule, the client
    // drains back to back on one checkpoint
    val ckpt = new File(run.workDir("open"), "ckpt")
    val t0 = Trace.nowMs + 200
    val landed = new Array[Double](nFiles)
    val generator = new Thread(() => {
      (0 until nFiles).foreach { i =>
        val due = t0 + i * FileMs
        val wait = due - Trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(new File(stage, f"f$i%06d.csv").toPath, new File(src, f"f$i%06d.csv").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        landed(i) = Trace.nowMs
      }
    })
    generator.setDaemon(true)
    generator.start()
    while (Trace.nowMs < t0) Thread.sleep(1)

    val emitted = new Array[Double](nFiles)
    var done = 0 // files whose count has been emitted
    val openCalls = mutable.ArrayBuffer[(Span, Int, Int)]() // span, lag files, records
    var lastCounts = Map.empty[String, Long]
    var stalls = 0
    while (done < nFiles && stalls < 50) {
      val present = Option(src.list()).map(_.count(_.endsWith(".csv"))).getOrElse(0)
      val (got, sp) = run.call("rainstorm", "runStreaming", "measure") {
        drainCall(run, src, ckpt, "rs_open")
      }
      got match {
        case Some(counts) if counts.nonEmpty =>
          // exactly once: the Complete-mode total sits on a file-prefix
          // boundary at or past everything present when the call began
          val total = counts.values.sum
          val k = java.util.Arrays.binarySearch(cum, total)
          if (k < 0 || k + 1 < present) {
            run.failLast()
            stalls += 1
          } else {
            (done to k).foreach(j => emitted(j) = sp.end)
            if (sp.start >= t0 + RampMs)
              openCalls += ((sp, present - done, (k + 1 - done) * LinesPerFile))
            done = k + 1
            lastCounts = counts
          }
        case _ => stalls += 1 // failed, or nothing new had landed
      }
    }
    generator.join()
    val missed = nFiles - done

    // closed loop on the same checkpoint: land a fixed increment, drain it.
    // A call's work does not depend on how long the previous one took, so
    // the call wall tracks the program without the open loop's feedback
    val closedWalls = mutable.ArrayBuffer[Double]()
    val closedT0 = Trace.nowMs
    var next = nFiles
    def closedOpen = closedWalls.size < MinClosedCalls || Trace.nowMs - closedT0 < seconds * 1000
    while (missed == 0 && closedOpen) {
      (next until next + ClosedFiles).foreach { i =>
        val f = new File(stage, f"f$i%06d.csv")
        write(f, gen.file(LinesPerFile, Pattern, expected))
        Files.move(f.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      next += ClosedFiles
      val (got, sp) = run.call("rainstorm", "runStreaming", "closed") {
        drainCall(run, src, ckpt, "rs_open")
      }
      if (got.forall(_.values.sum != expected.values.sum)) run.failLast()
      got.foreach(lastCounts = _)
      closedWalls += sp.dur / 1e3
    }
    if (lastCounts != expected.toMap) run.failLast()
    val latencies = (rampFiles until done).map(i => (emitted(i) - (t0 + i * FileMs)) / 1e3)
    val lateMs = landed.indices.map(i => landed(i) - (t0 + i * FileMs))
    val openWalls = openCalls.map(_._1.dur / 1e3).toSeq
    val ckptBytes = Stats.dirBytes(ckpt)

    val figs = if (run.traced) openCalls.map(c => run.attribute(c._1)).toSeq else Nil
    val perCall = openCalls.zip(if (figs.isEmpty) openCalls.map(_ => Map.empty[String, Double]) else figs)
      .map { case ((sp, lag, recs), f) =>
        Map("wall_s" -> sp.dur / 1e3, "lag_files" -> lag, "records" -> recs) ++ f
      }
    val m = (k: String) => Stats.medianOf(figs, k)
    Map(
      "end_to_end" -> Map(
        "setup_s" -> setup("setup_s"),
        "latency_p50_s" -> Stats.quantile(latencies, 0.5),
        "latency_p90_s" -> Stats.quantile(latencies, 0.9),
        "cycle_s" -> (if (closedWalls.isEmpty) 0.0 else Stats.median(closedWalls.toSeq)),
        "drain_rps" -> Backlog / Stats.median(drainWalls)),
      "per_layer" -> Map(
        "session.create_s" -> setup("create_s"),
        "session.warm_s" -> setup("warm_s"),
        "rainstorm.call_s" -> Stats.median(openWalls),
        "rainstorm.start_overhead_s" -> m("start_overhead_s"),
        "rainstorm.records_per_call" -> Stats.median(openCalls.map(_._3.toDouble).toSeq),
        "stream.batches" -> m("batches"),
        "stream.input_rows" -> m("input_rows"),
        "stream.addBatch_s" -> m("addBatch_s"),
        "stream.bookkeeping_s" -> m("bookkeeping_s"),
        "stream.state_rows" -> m("state_rows"),
        "stream.state_mem_bytes" -> m("state_mem_bytes"),
        "stream.state_commit_s" -> m("state_commit_s"),
        "stream.checkpoint_bytes" -> ckptBytes.toDouble,
        "stream.source_lag_files" -> Stats.median(openCalls.map(_._2.toDouble).toSeq),
        "spark.jobs" -> m("jobs"),
        "spark.tasks" -> m("tasks"),
        "spark.task_failures" -> figs.map(_("task_failures")).sum,
        "spark.job_s" -> m("job_s"),
        "spark.driver_only_s" -> m("driver_only_s"),
        "spark.driver_only_frac" -> m("driver_only_s") / Stats.median(openWalls),
        "spark.shuffle_read_bytes" -> m("shuffle_read_bytes"),
        "spark.shuffle_write_bytes" -> m("shuffle_write_bytes"),
        "spark.spill_bytes" -> m("spill_bytes"),
        "gen.records" -> (nFiles.toLong * LinesPerFile).toDouble,
        "gen.late_ms_max" -> lateMs.max),
      "samples" -> Map(
        "setup" -> setup,
        "latency_s" -> latencies,
        "open_calls" -> perCall,
        "closed_walls_s" -> closedWalls.toSeq,
        "drain_walls_s" -> drainWalls,
        "inputs_s" -> inputsS,
        "files" -> nFiles, "files_missed" -> missed))
  }

  /** The backlog: `Backlog` records in `BacklogFiles` files, with counts. */
  private def makeBacklog(run: Run, seed: Long): (File, Map[String, Long]) = {
    val dir = run.workDir("backlog")
    val gen = new SignGen(seed * 31 + 7)
    val exp = mutable.Map[String, Long]()
    (0 until BacklogFiles).foreach { i =>
      write(new File(dir, f"b$i%03d.csv"), gen.file(Backlog / BacklogFiles, Pattern, exp))
    }
    (dir, exp.toMap)
  }

  /** Drains the backlog from a fresh checkpoint; the call's wall in s. */
  private def drainBacklog(run: Run, backlog: (File, Map[String, Long]), tag: String): Double = {
    val (got, sp) = run.call("rainstorm", "runStreaming", tag) {
      drainCall(run, backlog._1, new File(run.workDir(tag), "ckpt"), s"rs_$tag")
    }
    if (!got.contains(backlog._2)) run.failLast()
    sp.dur / 1e3
  }

  /** The backlog drain alone: the single-thread baseline runs this with
    * one core.
    */
  def drainOnly(run: Run, seed: Long): Map[String, Any] = {
    val backlog = makeBacklog(run, seed)
    val warmSrc = run.workDir("warm_src")
    run.setup {
      val wexp = mutable.Map[String, Long]()
      write(new File(warmSrc, "w.csv"), new SignGen(seed).file(LinesPerFile, Pattern, wexp))
      val (got, _) = run.call("rainstorm", "runStreaming", "warm") {
        drainCall(run, warmSrc, new File(run.workDir("warm"), "ckpt"), "rs_warm")
      }
      if (!got.contains(wexp.toMap)) run.failLast()
    }
    val wall = drainBacklog(run, backlog, "drain")
    Map("end_to_end" -> Map("drain_rps" -> Backlog / wall))
  }
}
