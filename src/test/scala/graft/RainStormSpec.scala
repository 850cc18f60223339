package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

import graft.RainStorm.Ops

/** End-to-end specs for the RainStorm migration facade on
  * TrafficSigns-SHAPED data (same column layout as the reference's demo
  * CSVs — FIXTURES.md — with synthetic values): App-1 (filter+project)
  * and App-2 (filter+count), batch and streaming, plus the Go
  * encoding/csv parse-fidelity corner cases.
  */
class RainStormSpec extends GraftSpec {

  // columns: X,Y,OBJECTID,Sign_Type,Size_,Supplement,Sign_Post,Year,Category
  private val rows = Seq(
    "1.0,2.0,101,Stop,30,NONE,Punched Telespar,2009,Regulatory",
    "1.5,2.5,102,Yield,24,NONE,Punched Telespar,2010,Warning",
    "2.0,3.0,103,Speed Limit,36,NONE,Wood Post,2011,Regulatory",
    "2.5,3.5,104,\"No \"\"Parking\"\"\",18,NONE,Punched Telespar,2012,Regulatory",
    "3.0,4.0,105,Stop,30,NONE,Unpunched Telespar,2013,Warning")

  private def writeFixture(): String = {
    val dir = tmpDir("rainstorm-src")
    Files.write(Paths.get(dir, "signs.csv"),
      String.join("\n", rows: _*).getBytes, StandardOpenOption.CREATE)
    dir
  }

  test("App-1: filter(contains) then CSV-project (batch)") {
    val src = writeFixture()
    val out = RainStorm.run(spark, src, Ops.app1op1, Ops.app1op2,
      dest = None, numTasks = 2, pattern = "Stop")
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set("101" -> "Stop", "105" -> "Stop"))
  }

  test("App-2: filter(eq) to (Category,1) then running count (batch)") {
    val src = writeFixture()
    val out = RainStorm.run(spark, src, Ops.app2op1, Ops.app2op2,
      dest = None, numTasks = 2, pattern = "Punched Telespar")
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("Regulatory" -> "2", "Warning" -> "1"))
  }

  test("App-2 streaming equals batch") {
    val src = writeFixture()
    val ckpt = tmpDir("rainstorm-ckpt")
    val q = RainStorm.runStreaming(spark, src, Ops.app2op1, Ops.app2op2,
      "rainstorm_app2", ckpt, numTasks = 2, pattern = "Punched Telespar")
    q.awaitTermination()
    val got = spark.table("rainstorm_app2").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("Regulatory" -> "2", "Warning" -> "1"))
  }

  test("App-1 streaming equals batch") {
    val src = writeFixture()
    val batch = RainStorm.run(spark, src, Ops.app1op1, Ops.app1op2,
      dest = None, numTasks = 2, pattern = "Stop")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val q = RainStorm.runStreaming(spark, src, Ops.app1op1, Ops.app1op2,
      "rainstorm_app1", tmpDir("rainstorm-ckpt"), numTasks = 2, pattern = "Stop")
    q.awaitTermination()
    val got = spark.table("rainstorm_app1").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    spark.catalog.dropTempView("rainstorm_app1")
    assert(got === batch)
  }

  test("streaming op1 reads the key srcDir:md5(line)") {
    val src = writeFixture()
    val echo = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    RainStorm.runStreaming(spark, src, echo, echo, "rainstorm_keys",
      tmpDir("rainstorm-ckpt"), numTasks = 2).awaitTermination()
    val got = spark.table("rainstorm_keys").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    spark.catalog.dropTempView("rainstorm_keys")
    def md5hex(line: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(line.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(got === rows.map(l => (src + ":" + md5hex(l), l)).sorted)
  }

  test("a streaming call shuffles once: op1 runs on the source's splits") {
    // the reference's one exchange sits between op1 and op2: the
    // aggregation's own before CountByKey, the keyed one before FlatMap
    val src = writeFixture()
    for ((name, op1, op2, pattern) <- Seq(
        ("rainstorm_shape2", Ops.app2op1, Ops.app2op2, "Punched Telespar"),
        ("rainstorm_shape1", Ops.app1op1, Ops.app1op2, "Stop"))) {
      val q = RainStorm.runStreaming(spark, src, op1, op2, name,
        tmpDir("rainstorm-ckpt"), numTasks = 2, pattern = pattern)
      q.awaitTermination()
      spark.catalog.dropTempView(name)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      // stateless streaming plans run under AQE: look inside its stages
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, s"$name:\n$plan")
    }
  }

  test("a value-only streaming op1 computes no md5 key") {
    // App-2's op1 reads only the line, so Catalyst prunes the source's
    // content-hash key; an op1 that reads its key still gets it
    val src = writeFixture()
    val echo = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    for ((name, op1, hashes) <- Seq(("rainstorm_nomd5", Ops.app2op1, 0), ("rainstorm_md5", echo, 1))) {
      val q = RainStorm.runStreaming(spark, src, op1, Ops.app2op2, name,
        tmpDir("rainstorm-ckpt"), numTasks = 2, pattern = "Punched Telespar")
      q.awaitTermination()
      spark.catalog.dropTempView(name)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val md5s = new AdaptiveSparkPlanHelper {}.flatMap(plan)(_.expressions.flatMap(_.collect {
        case m: org.apache.spark.sql.catalyst.expressions.Md5 => m }))
      assert(md5s.size === hashes, s"$name:\n$plan")
    }
  }

  test("a streaming drain over more than 32 files runs one Spark job: no listing job") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // FileStreamSource.getBatch would re-list the batch's files in a
    // parallel job; the local sessions list them on the driver
    val dir = tmpDir("rainstorm-drain-src")
    for (f <- 0 until 40)
      Files.write(Paths.get(dir, f"f$f%02d.csv"),
        String.join("\n", rows.take(1 + f % rows.size): _*).getBytes, StandardOpenOption.CREATE)
    val (_, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext) {
      RainStorm.runStreaming(spark, dir, Ops.app2op1, Ops.app2op2, "rainstorm_drain",
        tmpDir("rainstorm-ckpt"), numTasks = 2, pattern = "Punched Telespar").awaitTermination()
    }
    val got = spark.table("rainstorm_drain").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    spark.catalog.dropTempView("rainstorm_drain")
    val batch = RainStorm.run(spark, dir, Ops.app2op1, Ops.app2op2,
      dest = None, numTasks = 2, pattern = "Punched Telespar")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(jobs === 1)
    assert(got === batch)
    assert(got === Map("Regulatory" -> "56", "Warning" -> "32"))
  }

  test("streaming chaos probe counts the file-scan partitions op1 delivers in") {
    val dir = tmpDir("rainstorm-probe-src")
    (0 until 3).foreach { f =>
      Files.write(Paths.get(dir, s"part$f.csv"),
        (0 until 5 + f).map(i => s"$f,$i,v$i").mkString("\n").getBytes,
        StandardOpenOption.CREATE)
    }
    TaskPartitions.seen.clear()
    val op1 = RainStorm.FlatMap((k, _, _) => {
      TaskPartitions.seen.add(org.apache.spark.TaskContext.getPartitionId())
      Seq(k -> "1")
    })
    RainStorm.runStreaming(spark, dir, op1, RainStorm.CountByKey, "rainstorm_probe",
      tmpDir("rainstorm-ckpt"), numTasks = 2).awaitTermination()
    spark.catalog.dropTempView("rainstorm_probe")
    import scala.jdk.CollectionConverters._
    val delivered = TaskPartitions.seen.asScala.toSet
    for (k <- 1 to 3)
      assert(RainStorm.streamingArmedPartitionsNonEmpty(spark, dir, n = k) ===
        delivered.count(_ < k).toLong, s"k = $k, delivered $delivered")
  }

  test("streaming calls share one task class loader, so generated code is reused") {
    // each query runs on a clone of the session, and Spark's codegen
    // cache keys on the task's class loader: a loader per clone would
    // recompile every call's generated classes
    val src = writeFixture()
    TaskLoaders.seen.clear()
    val op1 = RainStorm.FlatMap((_, v, _) => {
      TaskLoaders.seen.add(Thread.currentThread.getContextClassLoader)
      Seq(v.take(3) -> "1")
    })
    (1 to 2).foreach { i =>
      RainStorm.runStreaming(spark, src, op1, RainStorm.CountByKey, s"rainstorm_loader$i",
        tmpDir("rainstorm-ckpt"), numTasks = 2).awaitTermination()
      spark.catalog.dropTempView(s"rainstorm_loader$i")
    }
    assert(TaskLoaders.seen.size === 1)
  }

  test("sink write produces <key,value> csv lines") {
    val src = writeFixture()
    val dest = tmpDir("rainstorm-dest") + "/out"
    RainStorm.run(spark, src, Ops.app1op1, Ops.app1op2,
      dest = Some(dest), numTasks = 2, pattern = "Yield")
    val lines = spark.read.textFile(dest).collect().toSet
    assert(lines === Set("102,Yield"))
  }

  test("CLI runs both demo apps end-to-end, equal to the library facade") {
    val src = writeFixture()
    // App-1 through the CLI path (pattern with no spaces)
    val dest1 = tmpDir("rainstorm-cli") + "/app1"
    RainStormCli.runCli(spark,
      Array("app1op1", "app1op2", src, dest1, "2", "Stop"))
    assert(spark.read.textFile(dest1).collect().toSet ===
      Set("101,Stop", "105,Stop"))
    // App-2 through the CLI path — pattern contains a space, joined from
    // the remaining args exactly like the reference REPL does.
    val dest2 = tmpDir("rainstorm-cli") + "/app2"
    RainStormCli.runCli(spark,
      Array("app2op1", "app2op2", src, dest2, "2", "Punched", "Telespar"))
    val lib = RainStorm.run(spark, src, Ops.app2op1, Ops.app2op2,
      dest = None, numTasks = 2, pattern = "Punched Telespar")
      .collect().map(r => s"${r.getString(0)},${r.getString(1)}").toSet
    assert(spark.read.textFile(dest2).collect().toSet === lib)
    // Unknown operator names are rejected with the known set listed.
    val err = intercept[IllegalArgumentException] {
      RainStormCli.runCli(spark, Array("nope", "app1op2", src, dest1, "2"))
    }
    assert(err.getMessage.contains("app1op1"))
    // The optional leading verb is accepted and inert for plain runs.
    val dest3 = tmpDir("rainstorm-cli") + "/verb"
    RainStormCli.runCli(spark,
      Array("RainStorm", "app1op1", "app1op2", src, dest3, "2", "Stop"))
    assert(spark.read.textFile(dest3).collect().toSet ===
      Set("101,Stop", "105,Stop"))
  }

  test("RainStormWithFail verb: two mid-run task kills, output equals the unkilled run") {
    // The reference's chaos REPL command (main.go:223-243) runs the job,
    // kills two live op workers mid-flight, and demonstrates output
    // equivalence via its WAL + replay (rainstorm/server.go:543-572).
    // Spark analogue: RainStorm.Chaos kills two task attempts inside the
    // running job; spark.task.maxFailures=4 (GraftSession) reschedules
    // them and lineage replay reproduces the lost work in the SAME run —
    // no restart needed, same equivalence.
    val src = writeFixture()
    val destFail = tmpDir("rainstorm-fail") + "/out"
    val destOk = tmpDir("rainstorm-ok") + "/out"
    val firedBefore = RainStorm.Chaos.firedCount
    try RainStormCli.runCli(spark, Array("RainStormWithFail",
      "app2op1", "app2op2", src, destFail, "2", "Punched", "Telespar"))
    finally RainStorm.Chaos.arm(0) // never leak armed kills into other tests
    assert(RainStorm.Chaos.firedCount === firedBefore + 2,
      "both armed kills must fire inside running tasks")
    RainStormCli.runCli(spark, Array("RainStorm",
      "app2op1", "app2op2", src, destOk, "2", "Punched", "Telespar"))
    val got = spark.read.textFile(destFail).collect().toSet
    val want = spark.read.textFile(destOk).collect().toSet
    assert(got === want)
    assert(got === Set("Regulatory,2", "Warning,1"))
  }

  test("chaos kills are run-scoped: another run cannot absorb them") {
    // arm() parks a pending count that the NEXT run claims under its
    // own run id — so a different run executing while the claim is
    // live must fire nothing, and the claiming run's own action still
    // fires every kill (the round-4 design was JVM-global: any
    // concurrent delivery could absorb kills armed for another job).
    val src = writeFixture()
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val before = RainStorm.Chaos.firedCount
    RainStorm.Chaos.arm(2)
    // run A claims the kills but stays LAZY (no dest, no action yet)
    val a = RainStorm.run(spark, src, idOp, idOp, dest = None, numTasks = 2)
    // run B executes to completion while A's claim is live: zero kills
    val destB = tmpDir("chaos-scope") + "/out"
    RainStorm.run(spark, src, idOp, idOp, dest = Some(destB), numTasks = 2)
    assert(RainStorm.Chaos.firedCount === before,
      "a run must not absorb kills claimed by another run")
    // A's own action fires both kills; retries reproduce the output
    assert(a.count() === 5)
    assert(RainStorm.Chaos.firedCount === before + 2,
      "the claiming run's deliveries must fire the armed kills")
  }

  test("chaos transport: cluster masters get closure-shipped PartitionKills") {
    // plan() selects the injection transport by master URL: local[*]
    // keeps the JVM-shared countdown; anything else (a real cluster,
    // where executor JVMs cannot see this JVM's registry) gets
    // PartitionKills — the armed count embedded in the task closure,
    // the kill decision a pure function of TaskContext.
    RainStorm.Chaos.arm(2)
    val p1 = RainStorm.Chaos.plan("run-a", "spark://host:7077")
    assert(p1 === RainStorm.Chaos.PartitionKills(2))
    // the claim is consumed: the next run has nothing armed
    assert(RainStorm.Chaos.plan("run-b", "spark://host:7077") === RainStorm.Chaos.NoKills)
    RainStorm.Chaos.arm(1)
    val p3 = RainStorm.Chaos.plan("run-c", "local[4]")
    assert(p3 === RainStorm.Chaos.RegistryKills("run-c"))
    RainStorm.Chaos.release("run-c")
    // local-cluster[...] runs executors in SEPARATE JVMs — the
    // registry cannot reach them; it must take the closure transport
    RainStorm.Chaos.arm(1)
    assert(RainStorm.Chaos.plan("run-d", "local-cluster[2,1,1024]") ===
      RainStorm.Chaos.PartitionKills(1))
    // The closure transport arms exactly ONE stage — the first
    // FlatMap one (CountByKey never taps, so op1-unconditional
    // scoping would silently disarm a (CountByKey, FlatMap) run);
    // the registry transport stays armed across both stages.
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val pk = RainStorm.Chaos.PartitionKills(2)
    assert(RainStorm.stagePlans(pk, idOp) === ((pk, RainStorm.Chaos.NoKills)))
    assert(RainStorm.stagePlans(pk, RainStorm.CountByKey) ===
      ((RainStorm.Chaos.NoKills, pk)))
    val reg = RainStorm.Chaos.RegistryKills("run-e")
    assert(RainStorm.stagePlans(reg, RainStorm.CountByKey) === ((reg, reg)))
  }

  test("PartitionKills transport: kills fire via TaskContext and retries recover") {
    // The cluster transport exercised end-to-end (TaskContext is the
    // same API under local[4, 4]): first attempt of partitions 0 and 1
    // dies on its first delivery, the scheduler reschedules, attempt 1
    // passes the tap, and the output is byte-identical to an unkilled
    // run — the reference's kill-two-workers equivalence with zero
    // shared state between driver and executors.
    import spark.implicits._
    val before = RainStorm.Chaos.firedCount
    val recs = (1 to 40)
      .map(i => graft.operators.Core.Record(s"id$i", s"k${i % 4}", s"v$i"))
    // round-robin repartition: every partition is guaranteed non-empty
    // (a key-hash layout can leave partition 0 or 1 empty and the kill
    // for an empty partition never fires — no deliveries to tap)
    val ds = spark.createDataset(recs).repartition(4)
    val plan: RainStorm.Chaos.KillPlan = RainStorm.Chaos.PartitionKills(2)
    val out = graft.operators.Core.flatMapRecords(ds.toDF(), r => {
      RainStorm.Chaos.tap(plan)
      Seq(graft.operators.Core.Record(r.id, r.key, r.value))
    })
    assert(out.count() === 40L, "retried attempts must reproduce every record")
    assert(RainStorm.Chaos.firedCount === before + 2,
      "first attempts of the first two non-empty partitions must die")
  }

  test("EpochPartitionKills: fires only in the armed micro-batch's tasks") {
    // The streaming × cluster transport (degraded to NoKills through
    // r9): per-task statelessness would re-fire plain PartitionKills
    // on every micro-batch's fresh attempt-0 tasks, so the epoch
    // variant additionally gates on the scheduler's
    // `streaming.sql.batchId` task-local property. Exercised here by
    // stamping the property on the submitting thread (tasks inherit
    // local properties — the same channel MicroBatchExecution uses);
    // the real multi-JVM streaming drain is ClusterCheck's gate.
    import spark.implicits._
    val before = RainStorm.Chaos.firedCount
    val plan: RainStorm.Chaos.KillPlan =
      RainStorm.Chaos.EpochPartitionKills(2, epoch = 0L)
    def runWith(batchId: String): Long = {
      spark.sparkContext.setLocalProperty("streaming.sql.batchId", batchId)
      try {
        val recs = (1 to 40)
          .map(i => graft.operators.Core.Record(s"id$i", s"k${i % 4}", s"v$i"))
        val ds = spark.createDataset(recs).repartition(4)
        graft.operators.Core.flatMapRecords(ds.toDF(), r => {
          RainStorm.Chaos.tap(plan)
          Seq(r)
        }).count()
      } finally spark.sparkContext.setLocalProperty("streaming.sql.batchId", null)
    }
    // a later micro-batch's tasks pass the tap untouched
    assert(runWith("1") === 40L)
    assert(RainStorm.Chaos.firedCount === before,
      "a non-armed micro-batch must not fire kills")
    // the armed micro-batch: first attempts of partitions 0 and 1 die,
    // rescheduled attempts recover every record
    assert(runWith("0") === 40L)
    assert(RainStorm.Chaos.firedCount === before + 2,
      "the armed micro-batch's attempt-0 tasks must die")
    // a task with NO batchId property (a plain batch job sharing the
    // closure) never matches the armed epoch
    val recs = (1 to 8)
      .map(i => graft.operators.Core.Record(s"id$i", s"k$i", s"v$i"))
    val n = graft.operators.Core.flatMapRecords(
      spark.createDataset(recs).repartition(4).toDF(), r => {
        RainStorm.Chaos.tap(plan)
        Seq(r)
      }).count()
    assert(n === 8L)
    assert(RainStorm.Chaos.firedCount === before + 2,
      "tasks without a streaming batchId must never fire epoch kills")
  }

  test("record keys DECODE percent-encoded metadata paths (space in filename)") {
    // _metadata.file_path arrives percent-encoded (Spark renders it
    // via Path.toUri.toString): a file named "my file.csv" shows up as
    // ".../my%20file.csv". The record key contract is the DECODED
    // scheme-less path — the value the listing side produces — so a
    // space (or any URI-escaped char) must round-trip, not leak as
    // "%20" into record identity.
    val dir = tmpDir("rainstorm-space")
    Files.write(Paths.get(dir, "my file.csv"), "l1\nl2".getBytes,
      StandardOpenOption.CREATE)
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
    val keys = out.collect().map(_.getString(0)).sorted
    assert(keys.toSeq === Seq(s"$dir/my file.csv:1", s"$dir/my file.csv:2"))
  }

  test("direct address of a hidden file yields empty output (pinned divergence)") {
    // spark.read.text applies its hidden-file filter even to explicitly
    // listed paths: naming `_f.txt` directly reads as EMPTY, where a
    // plain open would have returned its bytes. Pinned as intended —
    // hidden files are Spark metadata convention, and record identity
    // must not depend on how the path was spelled (sourceBatch doc).
    val dir = tmpDir("rainstorm-hidden")
    Files.write(Paths.get(dir, "_f.txt"), "line1\nline2".getBytes,
      StandardOpenOption.CREATE)
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val out = RainStorm.run(spark, s"$dir/_f.txt", idOp, idOp,
      dest = None, numTasks = 2)
    assert(out.count() === 0L)
  }

  test("batch source keys are <srcFile>:<lineNo>, distinct for duplicate lines") {
    // The reference keys records "<src>:<lineNo>" 1-based
    // (rainstorm/server.go:427-439): two IDENTICAL lines are distinct
    // records. A content-hash key would collapse them.
    val dir = tmpDir("rainstorm-dup")
    val dup = "9.0,9.0,900,Stop,30,NONE,Wood Post,2020,Regulatory"
    Files.write(Paths.get(dir, "dup.csv"),
      String.join("\n", dup, dup, dup).getBytes, StandardOpenOption.CREATE)
    // Identity op1/op2 expose the source keys unchanged.
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
    val keys = out.collect().map(_.getString(0)).sorted
    assert(keys.length === 3)
    assert(keys.distinct.length === 3, "duplicate lines must keep distinct keys")
    // per-FILE identity, the reference's key (rainstorm/server.go:427-439)
    assert(keys.forall(_.matches(s"\\Q$dir\\E/dup\\.csv:[1-3]")))
  }

  test("directory source: line numbers restart per file under each file's name") {
    // The reference numbers lines within ONE source file; a directory
    // of files must therefore key each file independently — NOT a
    // global index under the directory name.
    val dir = tmpDir("rainstorm-multi")
    Files.write(Paths.get(dir, "a.csv"), "l1\nl2".getBytes, StandardOpenOption.CREATE)
    Files.write(Paths.get(dir, "b.csv"), "l1".getBytes, StandardOpenOption.CREATE)
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
    val keys = out.collect().map(_.getString(0)).toSet
    assert(keys === Set(s"$dir/a.csv:1", s"$dir/a.csv:2", s"$dir/b.csv:1"))
  }

  test("glob source reads matching files; record identity is address-independent") {
    // The textFile scan this source replaced accepted globs; and a
    // record's key must not depend on HOW the file was addressed —
    // glob, exact path, file:/ URI, or parent directory all key the
    // same line identically (scheme-less absolute path).
    val dir = tmpDir("rainstorm-glob")
    Files.write(Paths.get(dir, "a.csv"), "l1\nl2".getBytes, StandardOpenOption.CREATE)
    Files.write(Paths.get(dir, "b.csv"), "l1".getBytes, StandardOpenOption.CREATE)
    Files.write(Paths.get(dir, "c.txt"), "nope".getBytes, StandardOpenOption.CREATE)
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    def keysOf(src: String) = RainStorm
      .run(spark, src, idOp, idOp, dest = None, numTasks = 2)
      .collect().map(_.getString(0)).toSet
    assert(keysOf(s"$dir/*.csv") ===
      Set(s"$dir/a.csv:1", s"$dir/a.csv:2", s"$dir/b.csv:1"))
    assert(keysOf(s"$dir/*.nomatch") === Set.empty[String])
    // exact path, file: URI, and the parent dir agree on a.csv's keys
    val direct = keysOf(s"$dir/a.csv")
    assert(direct === Set(s"$dir/a.csv:1", s"$dir/a.csv:2"))
    assert(keysOf(s"file:$dir/a.csv") === direct)
    // a missing non-glob source still throws, like the scan it replaced
    intercept[java.io.FileNotFoundException] {
      keysOf(s"$dir/missing.csv")
    }
  }

  test("multi-split file: line numbers stay exact across split boundaries") {
    // The two-pass rank source must produce the SAME 1-based numbering
    // whether a file is one split or many — per-split prefix offsets +
    // within-split ordinals have to agree with sequential reading.
    val dir = tmpDir("rainstorm-split")
    val n = 5000
    val content = (1 to n).map(i => f"line$i%05d").mkString("\n")
    Files.write(Paths.get(dir, "big.csv"), content.getBytes,
      StandardOpenOption.CREATE)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096") // ~11 splits
    try {
      val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
      val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
        .collect()
      assert(out.length === n)
      val m = out.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(m.size === n, "every line number must be distinct")
      for (i <- Seq(1, 2, 409, 410, 2048, 4999, n)) // incl. split-boundary area
        assert(m(s"$dir/big.csv:$i") === f"line$i%05d",
          s"line $i keyed wrong across split boundaries")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("many-file directory: job count is bounded, not one job per file") {
    // The previous source built one driver-side RDD per file and a
    // zipWithIndex sizing job per multi-split file — a large directory
    // melted the driver. The one-scan two-pass form runs a BOUNDED
    // number of jobs regardless of file count; pin that with a listener.
    val dir = tmpDir("rainstorm-many")
    val nFiles = 40
    for (i <- 0 until nFiles) {
      val body = (1 to 1000).map(j => f"f$i%02d-l$j%04d").mkString("\n")
      Files.write(Paths.get(dir, f"f$i%02d.csv"), body.getBytes,
        StandardOpenOption.CREATE)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096") // every file multi-split
    spark.sparkContext.addSparkListener(counter)
    try {
      val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
      val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
        .collect()
      assert(out.length === nFiles * 1000)
      Thread.sleep(1000) // listener bus is async; let job-start events drain
      val seen = jobs.get()
      assert(seen < nFiles,
        s"$seen jobs for $nFiles files — the source must not scale jobs with file count")
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("directory source: empty dir (or only hidden files) yields empty output") {
    // A plain textFile scan returns no rows for an empty directory;
    // the per-file source must match, not crash on an empty file list.
    val dir = tmpDir("rainstorm-empty")
    Files.write(Paths.get(dir, "_hidden.csv"), "x".getBytes, StandardOpenOption.CREATE)
    val idOp = RainStorm.FlatMap((k, v, _) => Seq(k -> v))
    val out = RainStorm.run(spark, dir, idOp, idOp, dest = None, numTasks = 2)
    assert(out.collect().isEmpty)
  }

  test("REPL loop: scripted create → append → ls → RainStorm → get session") {
    // The reference's entry point is a long-lived shell dispatching the
    // DFS verbs and the RainStorm verbs from one loop (main.go:78-253).
    // Drive a full scripted session through runLoop and assert each
    // verb's effect end-to-end, including that the RainStorm verb's
    // output equals the library call's.
    val work = tmpDir("rainstorm-repl")
    val dfs = s"$work/dfs-signs"
    val localA = Paths.get(work, "a.csv")
    val localB = Paths.get(work, "b.csv")
    val contentA = String.join("\n", rows.take(3): _*)
    val contentB = String.join("\n", rows.drop(3): _*)
    Files.write(localA, contentA.getBytes("UTF-8"))
    Files.write(localB, contentB.getBytes("UTF-8"))
    val dest = s"$work/out-cli"
    val roundtrip = Paths.get(work, "roundtrip.csv")
    val localC = Paths.get(work, "c.csv")
    val localD = Paths.get(work, "d.csv")
    Files.write(localC, "extra1".getBytes("UTF-8"))
    Files.write(localD, "extra2".getBytes("UTF-8"))
    val script = Seq(
      s"create $localA $dfs",
      s"append $localB $dfs",
      s"ls $dfs",
      "", // empty line: skipped
      "bogus_verb", // unknown: prints Invalid command, loop continues
      "append onlyonearg", // missing params: prints, loop continues
      s"cat $localA", // prints the local file (util.Cat)
      s"RainStorm app1op1 app1op2 $dfs $dest 2 Stop",
      s"get $dfs $roundtrip",
      // reference arity validation, then a real concurrent multiappend
      s"multiappend $dfs-extra 1,2,3 $localC,$localD",
      s"multiappend $dfs-extra 1,2 $localC,$localD",
      s"merge $dfs-extra", // compaction: get-before == get-after
      s"get $dfs-extra ${Paths.get(work, "extra.txt")}",
      "list_mem", // membership: documented delegation, not a crash
      "exit").mkString("\n")
    val buf = new java.io.ByteArrayOutputStream()
    RainStormCli.runLoop(spark,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(buf, true, "UTF-8"))
    val printed = new String(buf.toByteArray, "UTF-8").linesIterator.toSeq
    assert(printed.count(_.startsWith("block-")) === 2,
      s"ls must print the two appended blocks, got:\n${printed.mkString("\n")}")
    assert(printed.contains("Invalid command"))
    assert(printed.contains("Missing parameters"))
    assert(printed.exists(_.startsWith("delegated")))
    // cat printed the local file's content
    assert(printed.contains(contentA.linesIterator.next()))
    // multiappend arity mismatch prints the reference's message; the
    // valid one lands both blocks, merge compacts, get sees both
    assert(printed.exists(_.startsWith("Missing filenames")))
    val extra = new String(
      Files.readAllBytes(Paths.get(work, "extra.txt")), "UTF-8")
    assert(extra.contains("extra1") && extra.contains("extra2"))
    assert(extra.length === "extra1extra2".length)
    // get = canonical-order concatenation of the two appended blocks
    assert(new String(Files.readAllBytes(roundtrip), "UTF-8")
      === contentA + contentB)
    // the RainStorm verb's sink output equals the library facade's
    val destLib = s"$work/out-lib"
    RainStorm.run(spark, dfs, Ops.app1op1, Ops.app1op2,
      dest = Some(destLib), numTasks = 2, pattern = "Stop")
    val viaCli = spark.read.textFile(dest).collect().toSet
    val viaLib = spark.read.textFile(destLib).collect().toSet
    assert(viaCli === viaLib)
    assert(viaCli.map(_.split(",", 2)(1)) === Set("Stop"))
  }

  test("CountByKey then FlatMap: allowed in batch, rejected in streaming") {
    val src = writeFixture()
    // batch: CountByKey over the per-line source keys (all distinct ->
    // count 1 each), then a FlatMap stage over the aggregate's
    // (key, value) records.
    val out = RainStorm.run(spark, src,
      RainStorm.CountByKey, RainStorm.FlatMap((k, v, _) => Seq(v -> k)),
      dest = None, numTasks = 2)
    val got = out.collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length === 5)
    assert(got.forall(_._1 == "1"))
    // streaming: Structured Streaming cannot run a row-generating
    // transform after a streaming aggregation — clear require, not an
    // opaque analysis error.
    val err = intercept[IllegalArgumentException] {
      RainStorm.runStreaming(spark, src, Ops.app2op2,
        RainStorm.FlatMap((k, v, _) => Seq(k -> v)),
        "cbk_flatmap", tmpDir("rainstorm-ckpt2"))
    }
    assert(err.getMessage.contains("streaming"))
  }

  test("chaos pre-probe: op1ArmedPartitionsNonEmpty counts non-empty armed partitions") {
    // PartitionKills is at-most-n; ClusterCheck pre-asserts the armed
    // partitions are non-empty with this probe. One source line → one
    // occupied op1 partition (keys are file:line, so occupancy is row
    // count, not key-content skew); many lines → all armed partitions
    // occupied.
    val dir = tmpDir("chaos-probe-src")
    Files.write(Paths.get(dir, "one.csv"), "only,row".getBytes,
      StandardOpenOption.CREATE)
    assert(RainStorm.op1ArmedPartitionsNonEmpty(spark, dir, numTasks = 4, n = 4) === 1L)
    val many = (0 until 200).map(i => s"r$i,v$i").mkString("\n")
    Files.write(Paths.get(dir, "many.csv"), many.getBytes,
      StandardOpenOption.CREATE)
    assert(RainStorm.op1ArmedPartitionsNonEmpty(spark, dir, numTasks = 4, n = 4) === 4L)
    // n narrower than numTasks: probe scopes to the partitions actually armed
    assert(RainStorm.op1ArmedPartitionsNonEmpty(spark, dir, numTasks = 4, n = 2) === 2L)
  }

  test("splitCsv matches Go encoding/csv on quoted fields and errors") {
    assert(Ops.splitCsv("a,b,c").get.toSeq === Seq("a", "b", "c"))
    assert(Ops.splitCsv("\"a,b\",c").get.toSeq === Seq("a,b", "c"))
    assert(Ops.splitCsv("\"16\"\" X 42\"\"\",post").get.toSeq ===
      Seq("16\" X 42\"", "post"))
    assert(Ops.splitCsv("\"unterminated").isEmpty)   // parse error -> drop
    assert(Ops.splitCsv("a\"b,c").isEmpty)           // stray quote -> drop
    assert(Ops.splitCsv("a,,c").get.toSeq === Seq("a", "", "c"))
  }

  /** splitCsv as a char-by-char builder of every field: the reference
    * the field-selective scan is held to.
    */
  private def refSplitCsv(line: String): Option[Array[String]] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else c match {
        case ','                      => out += cur.result(); cur.clear()
        case '"' if cur.isEmpty       => inQ = true
        case '"'                      => return None
        case _                        => cur += c
      }
      i += 1
    }
    if (inQ) None
    else { out += cur.result(); Some(out.result().toArray) }
  }

  /** A TrafficSigns-shaped line: 20 columns, quoted fields with doubled
    * quotes and commas, blank fields, and 1 in 20 lines malformed by an
    * unterminated or a stray quote.
    */
  private def signLine(r: scala.util.Random): String = {
    val posts = Array("Wood Post", "\"Wood Post\"", " ", "U-Channel", "\"Mast, Arm\"")
    val types = Array("Stop", "\"No Parking, Any Time\"", "\"School \"\"Zone\"\" Ahead\"", "")
    val cats = Array("Warning", "Regulatory", "\"Street, Name\"")
    val cols = Array.tabulate(20) {
      case 2 => r.nextInt(100000).toString
      case 3 => types(r.nextInt(types.length))
      case 4 => if (r.nextBoolean()) "\"16\"\" X 42\"\"\"" else " "
      case 6 => posts(r.nextInt(posts.length))
      case 8 => cats(r.nextInt(cats.length))
      case _ => if (r.nextInt(3) == 0) "" else s"v${r.nextInt(50)}"
    }
    r.nextInt(20) match {
      case 0 => cols(4) = "\"16\"\" X 42"
      case 1 => cols(9) = "Rep\"laced"
      case _ => ()
    }
    (if (r.nextInt(10) == 0) "\uFEFF" else "") + cols.mkString(",")
  }

  test("csvFields equals splitCsv projected to its two fields, on random and sign-shaped lines") {
    val r = new scala.util.Random(8)
    val alphabet = Array('a', ',', '"', ' ', '\uFEFF')
    val random = Seq.fill(20000)(
      Seq.fill(r.nextInt(16))(alphabet(r.nextInt(alphabet.length))).mkString)
    val signs = Seq.fill(5000)(signLine(r))
    def projected(line: String, a: Int, b: Int): Option[(String, String)] =
      refSplitCsv(line).filter(_.length > math.max(a, b)).map(c => (c(a), c(b)))
    for (line <- random; a <- 0 to 4; b <- 0 to 4)
      assert(Ops.csvFields(line, a, b) === projected(line, a, b), s"line [$line] fields $a, $b")
    for (line <- signs; (a, b) <- Seq((6, 8), (2, 3), (8, 6), (3, 3), (19, 0), (20, 1)))
      assert(Ops.csvFields(line, a, b) === projected(line, a, b), s"line [$line] fields $a, $b")
    for (line <- random ++ signs)
      assert(Ops.splitCsv(line).map(_.toSeq) === refSplitCsv(line).map(_.toSeq), s"line [$line]")
    // the operators built on the scan: App-2's filter-and-key (whose scan
    // stops at a filter field that is not the pattern), App-1's projection
    def filterEq(f: Int, k: Int, line: String, p: String) = {
      val RainStorm.ValueFlatMap(op) = Ops.csvFilterEq(f, k)
      op(line, p)
    }
    val RainStorm.ValueFlatMap(projectValue) = Ops.app1op2
    def project(key: String, line: String, p: String) = projectValue(line, p) // key unread
    for (line <- signs; p <- Seq("Wood Post", " ")) {
      assert(filterEq(6, 8, line, p) ===
        projected(line, 6, 8).filter(_._1 == p).map(_._2 -> "1").toSeq, s"line [$line]")
      assert(project("k", line, p) === projected(line, 2, 3).toSeq, s"line [$line]")
    }
    for (line <- random; (f, k) <- Seq((0, 1), (1, 0), (2, 2)); p <- Seq("a", "", " "))
      assert(filterEq(f, k, line, p) ===
        projected(line, f, k).filter(_._1 == p).map(_._2 -> "1").toSeq, s"line [$line]")
    assert(signs.count(l => refSplitCsv(l).isEmpty) > 100)
    assert(signs.count(l => projected(l, 6, 8).exists(_._1 == "Wood Post")) > 1000)
  }
}

/** Task context class loaders seen by a test operator (static: a task
  * runs a deserialized copy of its closure).
  */
object TaskLoaders {
  val seen: java.util.Set[ClassLoader] = java.util.concurrent.ConcurrentHashMap.newKeySet[ClassLoader]()
}

/** Partition ids a test operator's deliveries ran in. */
object TaskPartitions {
  val seen: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}
