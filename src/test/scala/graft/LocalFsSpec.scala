package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.streaming.{ExactlyOnceSink, NioLocalFileSystem, NioLocalFs, Sources}

/** The fork-free local filesystem ([[NioLocalFileSystem]], [[NioLocalFs]])
  * against Hadoop's stock one: same permission bits, same link status,
  * same checksummed rename, and no child process from a stream's
  * checkpoint or sink. */
class LocalFsSpec extends SparkSuite {

  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(FileSystem.getDefaultUri(new Configuration), new Configuration)
    fs
  }
  private def stockFs() = initialized(new LocalFileSystem)
  private def nioFs() = initialized(new NioLocalFileSystem)
  private def fileContext(nio: Boolean): FileContext = {
    val conf = new Configuration
    if (nio) conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    FileContext.getLocalFSFileContext(conf)
  }

  private def bits(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  /** What both implementations must agree on about one path's link status. */
  private def linkView(st: FileStatus): (Boolean, Boolean, Boolean, Long, Option[String]) =
    (st.isFile, st.isDirectory, st.isSymlink, if (st.isFile) st.getLen else 0L,
      if (st.isSymlink) Some(st.getSymlink.toUri.getPath) else None)

  /** A dir holding a file, a subdir, a symlink to the file and nothing at `missing`. */
  private def linkFixture(): Path = {
    val dir = Files.createTempDirectory("localfs_links")
    Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    new Path(dir.toString) // unqualified: stock readlink sees `file:` paths as relative
  }
  private val linkNames = Seq("file", "dir", "link")

  test("FileSystem parity: permission bits of created files and dirs, setPermission") {
    val perms = Seq("640", "600", "755", "444", "777", "000").map(o => new FsPermission(o))
    val views = Seq(stockFs(), nioFs()).map { fs =>
      val root = new Path(Files.createTempDirectory("localfs_perm").toUri)
      perms.map { perm =>
        val f = new Path(root, s"f${perm.toShort}")
        fs.create(f, perm, false, 4096, 1.toShort, 1L << 20, null).close()
        val d = new Path(root, s"d${perm.toShort}")
        assert(fs.mkdirs(d, perm))
        val created = (bits(f), bits(d))
        val g = new Path(root, s"g${perm.toShort}")
        fs.create(g).close()
        fs.setPermission(g, perm)
        val afterSet = (bits(g), fs.getFileStatus(g).getPermission.toShort)
        fs.setPermission(d, new FsPermission("755")) // so the temp dir stays removable
        (created, afterSet)
      }
    }
    assert(views(1) == views(0))
    assert(views(1).map(_._2._1) == perms.map(p =>
      PosixFilePermissions.toString(PosixFilePermissions.fromString(p.toString))))
    val missing = new Path(Files.createTempDirectory("localfs_perm").toUri.getPath, "absent")
    intercept[FileNotFoundException](nioFs().setPermission(missing, new FsPermission("644")))
  }

  test("FileContext parity: permission bits of files and dirs created through LocalFs") {
    val views = Seq(false, true).map { nio =>
      val fc = fileContext(nio)
      fc.setUMask(new FsPermission("022"))
      val root = new Path(Files.createTempDirectory("localfs_fc").toUri)
      Seq("640", "755", "600").map { o =>
        val f = new Path(root, s"f$o")
        fc.create(f, EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission(o))).close()
        val d = new Path(root, s"d$o")
        fc.mkdir(d, new FsPermission(o), false)
        (bits(f), bits(d), fc.getFileStatus(f).getPermission.toShort)
      }
    }
    assert(views(1) == views(0))
  }

  test("getFileLinkStatus parity: file, dir, symlink, missing path") {
    val root = linkFixture()
    val fsViews = Seq(stockFs(), nioFs()).map(fs =>
      linkNames.map(n => linkView(fs.getFileLinkStatus(new Path(root, n)))))
    val fcViews = Seq(false, true).map(nio =>
      linkNames.map(n => linkView(fileContext(nio).getFileLinkStatus(new Path(root, n)))))
    assert(fsViews(1) == fsViews(0))
    assert(fcViews(1) == fcViews(0))
    assert(fsViews(1).map(_._3) == Seq(false, false, true), "only the link is a symlink")
    assert(fsViews(1)(2)._5.contains(new Path(root, "file").toUri.getPath))
    val missing = new Path(root, "missing")
    intercept[FileNotFoundException](nioFs().getFileLinkStatus(missing))
    intercept[FileNotFoundException](stockFs().getFileLinkStatus(missing))
    intercept[FileNotFoundException](fileContext(nio = true).getFileLinkStatus(missing))
    intercept[FileNotFoundException](fileContext(nio = false).getFileLinkStatus(missing))
  }

  test("FileContext rename(OVERWRITE) onto an existing file moves data and .crc sidecar") {
    val fc = fileContext(nio = true)
    val root = new Path(Files.createTempDirectory("localfs_rename").toUri)
    def write(p: Path, s: String): Unit = {
      val os = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try os.write(s.getBytes(UTF_8)) finally os.close()
    }
    val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
    write(dst, "old contents")
    write(src, "new")
    val names = () => new java.io.File(root.toUri.getPath).list().toSet
    assert(names() == Set("src", ".src.crc", "dst", ".dst.crc"))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(names() == Set("dst", ".dst.crc"))
    val in = fc.open(dst) // verifies the moved checksum
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      write(src, "again")
      fc.rename(src, dst)
    }
  }

  test("tryExclusiveCreate takes the NIO O_EXCL branch on NioLocalFileSystem") {
    val fs = nioFs()
    val dir = Files.createTempDirectory("localfs_excl")
    val marker = new Path(dir.toUri.toString, "_COMMITTED_batch=0")
    assert(ExactlyOnceSink.tryExclusiveCreate(fs, marker, "a"))
    assert(!ExactlyOnceSink.tryExclusiveCreate(fs, marker, "b"))
    assert(new String(Files.readAllBytes(dir.resolve("_COMMITTED_batch=0")), UTF_8) == "a")
    // Hadoop's create would have written a `.crc` sidecar next to it
    assert(dir.toFile.list().toSeq == Seq("_COMMITTED_batch=0"))
  }

  test("fileStream -> tumblingCounts -> parquetSink with a restart forks no process from Hadoop's fs") {
    val base = Files.createTempDirectory("localfs_nofork")
    val (src, cp, out) = (s"$base/src", s"$base/cp", s"$base/out")
    val events = spark.range(400).select(
      timestamp_seconds(lit(1700000000L) + col("id") * 7).as("ts"),
      concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
      (col("id") % 10 / 4.0).as("value"))
    // inputs are written before the recording starts and moved in whole
    Files.createDirectories(Paths.get(src))
    val parts = (0 until 4).map { k =>
      val staged = s"$base/staged$k"
      events.where(col("id") % 4 === k).coalesce(1).write.parquet(staged)
      new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    }
    def publish(k: Int): Unit = Files.move(parts(k), Paths.get(src, s"part$k.parquet"))
    def start() = Pipeline.tumblingCounts(
        Sources.fileStream(spark, src, events.schema).withWatermark("ts", "1 hour"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch(ExactlyOnceSink.parquetSink(out))
      .start()

    val (starts, forks) = (new AtomicInteger, new AtomicInteger)
    val flushes = new AtomicInteger
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        starts.incrementAndGet()
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala).getOrElse(Nil)
        if (frames.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
          forks.incrementAndGet()
      })
      rs.onFlush(() => flushes.incrementAndGet())
      rs.startAsync()

      publish(0); publish(1)
      val q1 = start()
      q1.processAllAvailable()
      publish(2)
      q1.processAllAvailable()
      q1.stop()
      publish(3)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      new ProcessBuilder("true").start().waitFor() // the recording's positive control

      // events reach the consumer on the periodic flush: wait for two more
      val seen = flushes.get
      val deadline = System.currentTimeMillis() + 20000
      while (flushes.get < seen + 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(flushes.get >= seen + 2, "no JFR flush observed")
    } finally rs.close()

    assert(starts.get >= 1, "the recording saw no process start at all")
    assert(forks.get == 0, s"${forks.get} process starts from org.apache.hadoop.fs")
    val got = ExactlyOnceSink.read(spark, out)
    assert(got.select("batch").distinct().count() >= 3, "three or more committed batches")
    val latest = got.groupBy("win_start", "event_type").agg(max("cnt").as("cnt"))
    assert(latest.agg(sum("cnt")).head.getLong(0) == 400L, "every event counted once")
  }
}
