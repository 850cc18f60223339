package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared test session: one local Spark JVM-wide (suites run in one
  * forked JVM), small parallelism for fast startup.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      // local[4, 4]: 4 threads, 4 task attempts — mirrors GraftSession;
      // task-level failover is real in tests (RainStormSpec's chaos
      // verb relies on rescheduled attempts)
      .master("local[4, 4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(GraftSession.localFsConfs)
      .config(GraftSession.sharedClassLoaderConfs)
      .config(GraftSession.driverListingConfs)
      // saveAsTable targets (BucketingSpec) land in a temp warehouse,
      // not the repo working directory; it goes with the test JVM
      .config("spark.sql.warehouse.dir", {
        val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
        sys.addShutdownHook(graft.queries.VectorQueries.deleteRecursively(dir))
        dir.toString
      })
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh temp dir, deleted with everything under it after the suite
    * (a symbolic link inside is removed, never followed).
    */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.synchronized(tmpDirs += dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try tmpDirs.synchronized(tmpDirs.foreach(graft.queries.VectorQueries.deleteRecursively))
    finally super.afterAll()
}
