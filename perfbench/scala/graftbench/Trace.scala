package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Benchmark calls into a layer are spans; in a traced
  * run, engine events (micro-batches, jobs, stages) become child spans of
  * the call they fall in. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Any]) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = t >= start - 1 && t <= end + 1
}

/** Engine events as the listeners saw them. */
final case class JobEv(id: Int, start: Double, end: Double, ok: Boolean,
                       stages: Seq[Int], batch: Option[(String, Long)])
final case class StageEv(id: Int, attempt: Int, start: Double, end: Double,
                         tasks: Int, failedTasks: Int, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long)
final case class BatchEv(query: String, name: String, batch: Long, start: Double,
                         durations: Map[String, Long], inputRows: Long,
                         stateRows: Long, stateMem: Long, stateCommitMs: Long)
final case class WriteEv(t: Double, path: String, files: Long, bytes: Long)

/** In-memory event store, fed by the listeners below (registered through
  * static confs, so every session of the context reports here, sessions
  * made with `newSession()` included) and read once the run ends.
  */
object Trace {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms with nanosecond-clock resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private[graftbench] val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private[graftbench] val jobs = new ConcurrentLinkedQueue[JobEv]()
  private[graftbench] val stages = new ConcurrentLinkedQueue[StageEv]()
  private[graftbench] val batches = new ConcurrentLinkedQueue[BatchEv]()
  private[graftbench] val writes = new ConcurrentLinkedQueue[WriteEv]()
  private[graftbench] val taskAcc = new ConcurrentHashMap[(Int, Int), Array[Long]]()

  /** Wait until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit = BenchBus.drain(sc)

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private val bookkeepingKeys =
    Seq("walCommit", "latestOffset", "getBatch", "queryPlanning", "commitOffsets")

  /** Child spans of `call` and its per-layer figures, from the events
    * that fall inside it. Seconds for times, counts and bytes otherwise.
    */
  def attribute(call: Span, nextId: () => Int): (Seq[Span], Map[String, Double]) = {
    val js = jobs.asScala.filter(j => call.contains(j.start)).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ss = stages.asScala.filter(s => stageIds.contains(s.id)).toSeq
    val bs = batches.asScala.filter(b => call.contains(b.start)).toSeq
    val ws = writes.asScala.filter(w => call.contains(w.t)).toSeq
    val clip = (s: Double, e: Double) => (math.max(s, call.start), math.min(e, call.end))

    val children = ArrayBuffer[Span]()
    val batchSpan = bs.map { b =>
      val sp = Span(nextId(), call.id, "stream", s"batch ${b.name}#${b.batch}", b.start,
        b.start + b.durations.getOrElse("triggerExecution", 0L), Map(
          "input_rows" -> b.inputRows, "durations_ms" -> b.durations))
      children += sp
      (b.query, b.batch) -> sp
    }.toMap
    val jobSpan = js.map { j =>
      val parent = j.batch.flatMap(batchSpan.get).map(_.id).getOrElse(call.id)
      val sp = Span(nextId(), parent, "spark", s"job ${j.id}", j.start, j.end,
        Map("ok" -> j.ok, "stages" -> j.stages))
      children += sp
      j.id -> sp
    }.toMap
    ss.foreach { s =>
      val parent = js.find(_.stages.contains(s.id)).flatMap(j => jobSpan.get(j.id))
        .map(_.id).getOrElse(call.id)
      children += Span(nextId(), parent, "spark", s"stage ${s.id}.${s.attempt}",
        s.start, s.end, Map("tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
          "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
          "spill_bytes" -> s.spill))
    }

    val wall = call.dur / 1e3
    val jobS = union(js.map(j => clip(j.start, j.end))) / 1e3
    val trig = bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    val sumDur = (k: String) => bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
    val genDirs = ws.map(_.path).filter(_.matches(".*/run_\\d+/gen_\\d+/?")).distinct
    // self time: the call's wall not covered by any micro-batch or job
    val covered = union(bs.map(b => clip(b.start, b.start + b.durations
      .getOrElse("triggerExecution", 0L))) ++ js.map(j => clip(j.start, j.end))) / 1e3
    val batchSelf = bs.map { b =>
      val sp = batchSpan((b.query, b.batch))
      sp.dur - union(js.filter(j => j.batch.contains((b.query, b.batch)))
        .map(j => (math.max(j.start, sp.start), math.min(j.end, sp.end))))
    }.sum / 1e3
    val figures = Map[String, Double](
      "wall_s" -> wall,
      "jobs" -> js.size.toDouble,
      "failed_jobs" -> js.count(!_.ok).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_failures" -> ss.map(_.failedTasks).sum.toDouble,
      "job_s" -> jobS,
      "driver_only_s" -> (wall - jobS),
      "shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "batches" -> bs.size.toDouble,
      "input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "trigger_s" -> trig,
      "addBatch_s" -> sumDur("addBatch"),
      "bookkeeping_s" -> bookkeepingKeys.map(sumDur).sum,
      "start_overhead_s" -> (wall - trig),
      "state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "state_mem_bytes" -> bs.lastOption.map(_.stateMem.toDouble).getOrElse(0.0),
      "state_commit_s" -> bs.map(_.stateCommitMs).sum / 1e3,
      "files_written" -> ws.map(_.files).sum.toDouble,
      "bytes_written" -> ws.map(_.bytes).sum.toDouble,
      "generations" -> genDirs.size.toDouble,
      "self_call_s" -> (wall - covered),
      "self_batch_s" -> batchSelf,
      "jobs_per_batch" -> (if (bs.isEmpty) 0.0 else js.size.toDouble / bs.size))
    (children.toSeq, figures)
  }

  def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble
}

/** Jobs, stages and task totals, for every session of the context. */
class JobListener extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStarts.remove(e.jobId)
    if (st != null) {
      val props = Option(st.properties)
      val batch = for {
        p <- props
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield (q, b.toLong)
      jobs.add(JobEv(e.jobId, st.time.toDouble, e.time.toDouble,
        e.jobResult == JobSucceeded, st.stageIds, batch))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = taskAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](4))
    val m = Option(e.taskMetrics)
    acc.synchronized {
      if (e.reason != Success) acc(0) += 1
      m.foreach { t =>
        acc(1) += t.shuffleReadMetrics.totalBytesRead
        acc(2) += t.shuffleWriteMetrics.bytesWritten
        acc(3) += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val acc = Option(taskAcc.remove((i.stageId, i.attemptNumber())))
      .getOrElse(new Array[Long](4))
    stages.add(StageEv(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      i.numTasks, acc(0).toInt, acc(1), acc(2), acc(3)))
  }
}

/** Micro-batch progress of every streaming query, isolated sessions too. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    Trace.batches.add(BatchEv(p.id.toString, Option(p.name).getOrElse(""), p.batchId,
      Trace.epochMs(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }
}

/** File writes (path, files, bytes) of every successful action. */
class WriteListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val now = Trace.nowMs
    // the event arrives after the action ends, so this is at or before its start
    val started = now - durationNs / 1e6 - 10
    scala.util.Try(qe.commandExecuted).toOption.toSeq
      .flatMap(_.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath })
      .distinct.foreach { p =>
        // data files this action wrote: hard-linked carry-overs keep their
        // old mtime; checksums and markers are skipped
        val root = new java.io.File(p.toUri.getPath)
        val files = walk(root).filter(f => !f.getName.startsWith(".") &&
          !f.getName.startsWith("_") && f.lastModified >= started)
        Trace.writes.add(WriteEv(now, root.getPath, files.size, files.map(_.length).sum))
      }
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq.flatMap(k => if (k.isDirectory) walk(k) else Seq(k)))
      .getOrElse(Nil)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
