package graft

import org.apache.spark.sql.SparkSession

/** Single place to configure a scale-ready local SparkSession.
  *
  * Settings chosen for the driver's local[32] harness but written so the
  * same builder transfers to a 1000-executor cluster: AQE on (runtime
  * re-planning, skew-join splitting, dynamic coalescing), shuffle
  * partitions sized to the parallelism rather than the 200 default, and
  * nanosecond parquet timestamps handled explicitly (the `events` table
  * is written with timestamp[ns], which vanilla Spark rejects).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `file:` served by graft.fs's in-process local file system: without
    * the Hadoop native library the stock one starts a chmod or readlink
    * process per checkpoint, state or store file. Hadoop's FileSystem
    * cache keys on scheme, not impl, so these must be in place before
    * the JVM's first `file:` FileSystem is made.
    */
  val localFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.fs.InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.fs.InProcessLocalFs].getName)

  /** One executor class loader for every session: each streaming query
    * runs on a clone of its caller's session, and with per-session
    * artifact isolation each clone got its own task class loader, which
    * Spark's codegen cache keys on, so every `runStreaming` call
    * recompiled its generated classes and ran them on cold JIT code.
    * graft adds no session-scoped jars or files. Session-creation conf.
    */
  val sharedClassLoaderConfs: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** File listing on the driver, never in a Spark job: past the
    * threshold (32 paths by default) Spark lists a scan's paths in a
    * parallel job — every streaming micro-batch over more than 32 new
    * files re-lists them that way in `FileStreamSource.getBatch`, which
    * reads the conf from the caller's session. Under `local[N]` that
    * job's tasks run on this JVM's own threads, so it costs scheduling
    * and buys nothing; on a cluster, parallel listing on the executors
    * can pay off against an object store, so `localCluster` and
    * `builder` keep Spark's default.
    */
  val driverListingConfs: Map[String, String] = Map(
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config(localFsConfs)
      .config(sharedClassLoaderConfs)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing is BYTE-based, but several registered plans have
      // post-shuffle stages whose cost is row-EXPANSION, not bytes (the
      // pair-join dedup family: a few MB of narrow (doc_id, sid) rows
      // fan out to 10^7-10^8 candidate pairs and run the merge-intersect
      // kernel per pair). With the default 1 MB minPartitionSize,
      // parallelismFirst coalesces such a stage to ceil(bytes/1MB) tasks
      // — measured r18: dedup_prefix_jaccard's verify stage ran 2 tasks
      // on 32 cores, 8.65 s of a 10.7 s query. 64 KB keeps byte-light/
      // CPU-dense stages at the session's parallelism (the coalesce
      // target is still defaultParallelism — this only lowers the byte
      // floor, it never raises task counts above the pre-AQE partition
      // count). Scale note: on a production cluster post-shuffle bytes
      // are GBs and the floor never binds; it exists to avoid
      // pathological partition counts on huge clusters, which
      // defaultParallelism already caps. Env-overridable for such a
      // deployment (guide §2.2 wants 100MB-1GB partitions when bytes,
      // not fan-out CPU, are the cost).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION", "64k"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Task retries on a cluster: 4 attempts (the default, stated
      // explicitly because the engine's failover story depends on it).
      // NOTE: local mode IGNORES this conf — there retries come from
      // the master URL, local[N, maxFailures], set in local() below.
      .config("spark.task.maxFailures", "4")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader cannot represent; read as long (ns since epoch) and convert
      // explicitly in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // MIN/MAX/COUNT over unfiltered parquet can answer from footer
      // statistics instead of scanning row groups (PushedAggregation)
      // — but only on the v2 parquet source. The engine keeps Spark's
      // v1 default (bucketed saveAsTable and the nanos handling above
      // are v1 behaviors); the conf below is inert until a deployment
      // also clears spark.sql.sources.useV1SourceList, the documented
      // opt-in for footer-answered profiling scans (PartitioningSpec
      // pins that combination working).
      .config("spark.sql.parquet.aggregatePushdown", "true")

  def local(appName: String = "graft"): SparkSession = {
    // local[N, 4]: N threads, 4 task attempts — local mode defaults to
    // ONE attempt (any task error fails the job), which is not the
    // failover contract the engine claims; with 4, a killed attempt
    // (RainStorm.Chaos, or a genuine fault) is rescheduled and lineage/
    // shuffle replay reproduces its work, as on a cluster.
    val s = builder(appName).config(driverListingConfs)
      .master(s"local[$cpus, 4]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The multi-JVM harness session, shared by ClusterCheck and
    * ClusterBench so both mains always run the SAME cluster shape:
    * `local-cluster[2,2,3072]` — two real worker processes with
    * separate executor JVMs — with graft's classes shipped via
    * extraClassPath (resolved from this class's own code source, so
    * the run is against exactly what's built). Executors resolve Spark
    * via SPARK_HOME (the one prerequisite the caller must export — the
    * Worker reads it before any conf applies); the Scala version the
    * executor launcher needs is pinned HERE via spark.executorEnv
    * (WorkerCommandBuilder copies command.environment into the
    * launcher's childEnv, which getScalaVersion consults before the
    * process env), so callers no longer export SPARK_SCALA_VERSION —
    * without the pin the launcher probes for dev build directories and
    * dies with "Cannot find any build directories".
    */
  def localCluster(appName: String): SparkSession = {
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster launches executors via the SPARK_HOME launcher — " +
        "run with SPARK_HOME=/opt/spark")
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toString
    val s = builder(appName)
      .master("local-cluster[2,2,3072]")
      .config("spark.executor.memory", "2560m")
      .config("spark.executor.extraClassPath", classes)
      .config("spark.executorEnv.SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2)
          .mkString("."))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft runtime confs to an externally created session (e.g. the
    * driver's Verify/Bench session). Static confs (shuffle partitions
    * default) can still be set per-query via repartition hints.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    spark
  }
}
