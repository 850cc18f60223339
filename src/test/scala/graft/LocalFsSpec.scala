package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

import graft.fs.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem}

/** A JFR event committed after the measured work: once the stream has
  * delivered it, every process start before it has been delivered too.
  */
@jdk.jfr.Name("graft.test.Marker")
class JfrMarker extends jdk.jfr.Event

/** graft.fs's in-process local file system against Hadoop's stock one:
  * the same outcome for every verb the engine uses, and no process
  * started by a streaming call or a persisted store build.
  *
  * Hadoop's FileSystem cache keys on scheme, not impl: whichever `file:`
  * FileSystem the JVM makes first is the one every later `file:` lookup
  * gets, so the confs (GraftSession.localFsConfs, which TestSpark uses)
  * must be in place before it. The outcome tests therefore build their
  * file systems directly, never through the cache.
  */
class LocalFsSpec extends GraftSpec {

  private val conf = new Configuration()

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private def checksummed(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private def fileContext(afsImpl: Option[String]): FileContext = {
    val c = new Configuration(conf)
    afsImpl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(URI.create("file:///"), c)
  }

  /** What a test can see of a tree: relative path, kind, length, mode. */
  private def tree(root: java.nio.file.Path): Seq[String] =
    Files.walk(root).iterator.asScala.filterNot(_ == root).map { p =>
      val kind = if (Files.isSymbolicLink(p)) "l" else if (Files.isDirectory(p)) "d" else "f"
      val len = if (kind == "f") Files.size(p) else 0L
      val mode = java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      s"${root.relativize(p)} $kind $len $mode"
    }.toSeq.sorted

  /** Runs `ops` once with each file system in its own fresh directory and
    * returns both (outcome, tree) pairs; an outcome is a value or the
    * class of what was thrown.
    */
  private def both[F](stock: F, ours: F)(ops: (F, String) => Any): ((Any, Seq[String]), (Any, Seq[String])) = {
    def one(fs: F) = {
      val dir = Files.createTempDirectory("graft-localfs")
      try {
        val out = Try(ops(fs, dir.toString)).fold(_.getClass.getName, identity)
        (out, tree(dir))
      } finally graft.queries.VectorQueries.deleteRecursively(dir.toFile)
    }
    (one(stock), one(ours))
  }

  private def write(fs: FileSystem, p: String, body: String): Unit = {
    val out = fs.create(new Path(p))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("create, mkdirs and rename leave what the stock file system leaves, .crc siblings included") {
    val (stock, ours) = both(checksummed(new LocalFileSystem), checksummed(new InProcessLocalFileSystem)) {
      (fs, d) =>
        assert(fs.mkdirs(new Path(s"$d/a/b")))
        assert(fs.mkdirs(new Path(s"$d/m"), new FsPermission(Integer.parseInt("700", 8).toShort)))
        write(fs, s"$d/a/b/f1", "one")
        write(fs, s"$d/a/f2", "two!")
        val moved = fs.rename(new Path(s"$d/a/b/f1"), new Path(s"$d/a/g1"))
        val clash = fs.rename(new Path(s"$d/a/g1"), new Path(s"$d/a/f2"))
        (moved, clash, fs.exists(new Path(s"$d/a/g1")))
    }
    assert(ours === stock)
    assert(stock._1 === ((true, true, false)))
    assert(stock._2.exists(_.startsWith("a/.f2.crc f")), stock._2)
  }

  test("FileContext rename with and without overwrite matches the stock LocalFs") {
    val (stock, ours) = both(fileContext(None),
      fileContext(Some(classOf[InProcessLocalFs].getName))) { (fc, d) =>
      def put(p: String, body: String): Unit = {
        val out = fc.create(new Path(p),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      put(s"$d/x", "x-body")
      put(s"$d/y", "y-body-longer")
      fc.rename(new Path(s"$d/x"), new Path(s"$d/z"))
      val refused = Try(fc.rename(new Path(s"$d/z"), new Path(s"$d/y")))
        .fold(_.getClass.getName, _ => "renamed")
      fc.rename(new Path(s"$d/z"), new Path(s"$d/y"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$d/y"))
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (refused, body)
    }
    assert(ours === stock)
    assert(stock._1 === ("org.apache.hadoop.fs.FileAlreadyExistsException", "x-body"))
    assert(stock._2.exists(_.startsWith(".y.crc f")), stock._2)
  }

  test("setPermission gives the stock mode bits: 0644, 0755, 0700 and a sticky directory") {
    val (stock, ours) = both(raw(new RawLocalFileSystem), raw(new InProcessRawLocalFileSystem)) {
      (fs, d) =>
        val modes = Seq("644", "755", "700").map { m =>
          val p = new Path(s"$d/f$m")
          write(fs, p.toString, m)
          fs.setPermission(p, new FsPermission(Integer.parseInt(m, 8).toShort))
          m -> fs.getFileStatus(p).getPermission.toString
        }
        val sticky = new Path(s"$d/sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
        val st = fs.getFileStatus(sticky).getPermission
        (modes, st.toString, st.getStickyBit)
    }
    assert(ours === stock)
    assert(stock._1 === ((Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------"),
      "rwxrwxrwt", true)))
  }

  test("getFileLinkStatus: regular file, symlink, dangling symlink and a missing path") {
    def view(st: FileStatus): String =
      Seq(st.getPath.toUri.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) st.getSymlink.toUri.getPath else "-").mkString(" ")
    for (qualified <- Seq(false, true)) {
      val (stock, ours) = both(raw(new RawLocalFileSystem), raw(new InProcessRawLocalFileSystem)) {
        (fs, d) =>
          def at(name: String): Path = {
            val p = new Path(s"$d/$name")
            if (qualified) fs.makeQualified(p) else p
          }
          Files.write(Paths.get(d, "file"), "body".getBytes, StandardOpenOption.CREATE)
          Files.createSymbolicLink(Paths.get(d, "link"), Paths.get(d, "file"))
          Files.createSymbolicLink(Paths.get(d, "dangling"), Paths.get(d, "gone"))
          Seq("file", "link", "dangling", "missing").map { n =>
            n -> Try(view(fs.getFileLinkStatus(at(n)))).fold(_.getClass.getName, identity)
          }.map { case (n, v) => s"$n: ${v.toString.replace(d, "<d>")}" }
      }
      assert(ours._1 === stock._1, s"qualified = $qualified")
      assert(stock._1.asInstanceOf[Seq[String]].last ===
        "missing: java.io.FileNotFoundException")
    }
  }

  /** Process starts made by `body`'s own threads — the calling thread, a
    * query's stream execution thread and Spark's task threads — as
    * "command @ thread :: frames", seen by an in-process JFR stream.
    * Background threads (the driver heartbeater's one-time page-size
    * probe, the cleaner's removal of a collected session's artifacts)
    * run on their own timers and are not the call's.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val caller = Thread.currentThread.getName
    def ours(thread: String): Boolean = thread == caller ||
      thread.startsWith("stream execution thread") || thread.startsWith("Executor task launch worker")
    val starts = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[JfrMarker])
      rs.onEvent("jdk.ProcessStart", e => if (ours(e.getThread.getJavaName))
        starts.add(e.getString("command") + " @ " + e.getThread.getJavaName + " :: " +
          e.getStackTrace.getFrames.asScala.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            .filterNot(_.startsWith("java.")).take(6).mkString(" < ")))
      rs.onEvent("graft.test.Marker", _ => marked.countDown())
      rs.startAsync()
      body
      new JfrMarker().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "JFR marker never arrived")
    } finally rs.close()
    starts.asScala.toSeq
  }

  test("file: is the in-process file system in this JVM") {
    val p = new Path(System.getProperty("java.io.tmpdir"))
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[InProcessLocalFileSystem])
    // the cache hands the same instance to a conf without the setting
    assert(FileSystem.get(URI.create("file:///"), new Configuration())
      .isInstanceOf[InProcessLocalFileSystem])
  }

  test("a RainStorm streaming call and a persisted IVF store build start no process") {
    val src = tmpDir("localfs-src")
    Files.write(Paths.get(src, "signs.csv"),
      (1 to 50).map(i => s"1.0,2.0,$i,Stop,30,NONE,Wood Post,2009,c${i % 3}")
        .mkString("\n").getBytes, StandardOpenOption.CREATE)
    def stream(name: String): Unit = {
      val ckpt = tmpDir("localfs-ckpt")
      try RainStorm.runStreaming(spark, src, RainStorm.Ops.app2op1, RainStorm.Ops.app2op2,
        name, ckpt, numTasks = 2, pattern = "Wood Post").awaitTermination()
      finally graft.queries.VectorQueries.deleteRecursively(new java.io.File(ckpt))
    }
    val root = tmpDir("localfs-store")
    val rows = spark.range(200).select(col("id").as("vec_id"), (col("id") % 4).as("cell"))
    try {
      // one of each first: one-time class and library loading stays out
      stream("localfs_warm")
      graft.queries.VectorQueries.storeBuild(root, rows)
      assert(processStarts(stream("localfs_stream")) === Seq.empty)
      assert(spark.table("localfs_stream").count() === 3)
      assert(processStarts(graft.queries.VectorQueries.storeBuild(root, rows)) === Seq.empty)
    } finally {
      Seq("localfs_warm", "localfs_stream").foreach(spark.catalog.dropTempView)
      Seq(src, root).foreach(d => graft.queries.VectorQueries.deleteRecursively(new java.io.File(d)))
    }
  }
}
