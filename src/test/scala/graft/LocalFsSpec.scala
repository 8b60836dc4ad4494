package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  VersionedParquetSink}
import graft.streaming.StreamingPipeline

/** The fork-free `file:` store (`engine/LocalFs`): the same mode bits,
  * link statuses and checksums as Hadoop's stock local filesystems,
  * with no OS process started by the table and streaming paths. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = URI.create("file:///")

  private def conf(umask: Option[String], nio: Boolean): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    if (nio) c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    c
  }

  private def fileSystem(c: Configuration, nio: Boolean): FileSystem = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(root, c)
    fs
  }

  /** Every path under `dir` (relative) -> its permission and type bits,
    * links not followed. */
  private def modes(dir: String): Map[String, Int] = {
    val base = Paths.get(dir)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
    }.toMap
    finally walk.close()
  }

  /** The file and directory creations the table layer and Spark's
    * checkpoint manager make, through both Hadoop APIs. */
  private def createTree(dir: String, c: Configuration, nio: Boolean): Unit = {
    val fs = fileSystem(c, nio)
    val umask = FsPermission.getUMask(c)
    fs.create(new Path(s"$dir/a/f1")).close()
    FileSystem.create(fs, new Path(s"$dir/a/f2"), new FsPermission("640")).close()
    fs.mkdirs(new Path(s"$dir/b/c"), FsPermission.getDirDefault.applyUMask(umask))
    fs.mkdirs(new Path(s"$dir/d"))
    fs.setPermission(new Path(s"$dir/d"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    fs.close()
    val fc = FileContext.getFileContext(root, c)
    assert(fc.getDefaultFileSystem.getClass.getSimpleName ==
      (if (nio) "NioLocalFs" else "LocalFs"))
    fc.create(new Path(s"$dir/fc/f"), EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent()).close()
    fc.mkdir(new Path(s"$dir/fc/m/n"), FsPermission.getDirDefault, true)
    val tmp = new Path(s"$dir/fc/.tmp")
    fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      CreateOpts.checksumParam(org.apache.hadoop.fs.Options.ChecksumOpt.createDisabled())).close()
    fc.rename(tmp, new Path(s"$dir/fc/0"), Rename.OVERWRITE)
    fc.setPermission(new Path(s"$dir/fc/m"), new FsPermission(Integer.parseInt("1777", 8).toShort))
  }

  for (umask <- Seq(None, Some("077")))
    test(s"mode bits match stock RawLocalFileSystem (umask ${umask.getOrElse("default")})") {
      val stock = TestSpark.tmpDir("lfs-stock")
      val nio = TestSpark.tmpDir("lfs-nio")
      createTree(stock, conf(umask, nio = false), nio = false)
      createTree(nio, conf(umask, nio = true), nio = true)
      val (want, got) = (modes(stock), modes(nio))
      assert(got.keySet == want.keySet)
      assert(got == want, want.toSeq.sorted.map { case (k, m) =>
        f"$k%s ${m.toOctalString}%s ${got.get(k).map(_.toOctalString)}%s" }.mkString("\n"))
      // the sticky 1777s really landed, and the umask really applied
      assert((got("d") & 0xfff) == Integer.parseInt("1777", 8))
      assert((got("fc/m") & 0xfff) == Integer.parseInt("1777", 8))
      if (umask.contains("077")) assert((got("fc/f") & 0x3f) == 0)
    }

  test("getFileLinkStatus matches stock for a file, a dir, links and a missing path") {
    val dir = TestSpark.tmpDir("lfs-links")
    Files.write(Paths.get(dir, "f"), "abc".getBytes)
    Files.createDirectory(Paths.get(dir, "d"))
    Files.createSymbolicLink(Paths.get(dir, "l"), Paths.get("f"))
    Files.createSymbolicLink(Paths.get(dir, "x"), Paths.get(dir, "nowhere"))
    val c = new Configuration()
    val stock = new RawLocalFileSystem
    stock.initialize(root, c)
    val nio = new NioRawLocalFileSystem
    nio.initialize(root, c)
    def fields(st: FileStatus): Seq[Any] = Seq(st.getPath, st.isFile,
      st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
      st.getLen, st.getModificationTime, st.getReplication, st.getBlockSize,
      st.getPermission, st.getOwner, st.getGroup)
    def status(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    // the qualified form is what FileContext passes; the bare form is the
    // one whose link branches fire
    for (name <- Seq("f", "d", "l", "x", "missing");
         p <- Seq(new Path(s"file:$dir/$name"), new Path(s"$dir/$name"))) {
      assert(status(nio, p) == status(stock, p), s"$p")
    }
    assert(nio.getFileLinkStatus(new Path(s"$dir/l")).getSymlink.toUri.getPath ==
      s"$dir/f")
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(s"$dir/missing")))
  }

  test("a flipped data byte fails the read through both APIs") {
    val dir = TestSpark.tmpDir("lfs-crc")
    val c = conf(None, nio = true)
    def flip(name: String): Unit = {
      val raw = Paths.get(dir, name)
      val bytes = Files.readAllBytes(raw)
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(raw, bytes)
    }
    val data = Array.tabulate[Byte](4096)(_.toByte)
    val fs = fileSystem(c, nio = true)
    val p = new Path(s"$dir/fs.bin")
    val out = fs.create(p)
    out.write(data)
    out.close()
    assert(Files.exists(Paths.get(dir, ".fs.bin.crc")))
    flip("fs.bin")
    intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readFully(new Array[Byte](data.length)) finally in.close()
    }
    val fc = FileContext.getFileContext(root, c)
    val q = new Path(s"$dir/fc.bin")
    val out2 = fc.create(q, EnumSet.of(CreateFlag.CREATE))
    out2.write(data)
    out2.close()
    assert(Files.exists(Paths.get(dir, ".fc.bin.crc")))
    flip("fc.bin")
    // both opens: stock `LocalFs` hands the one-argument one (Spark's
    // checkpoint reads) to the raw store, which skips verification
    for (open <- Seq(() => fc.open(q), () => fc.open(q, 4096)))
      intercept[ChecksumException] {
        val in = open()
        try in.readFully(new Array[Byte](data.length)) finally in.close()
      }
  }

  test("a flipped byte in a committed offset fails the stream's restart") {
    val src = TestSpark.tmpDir("lfs-osrc")
    val ckpt = TestSpark.tmpDir("lfs-ockpt")
    spark.range(3).write.mode("overwrite").parquet(src)
    def drain(): Unit = spark.readStream.schema("id BIGINT").parquet(src)
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    val offset = Paths.get(ckpt, "offsets", "0")
    assert(Files.exists(Paths.get(ckpt, "offsets", ".0.crc")))
    // one digit of the batch timestamp: the file still parses
    val text = new String(Files.readAllBytes(offset), "UTF-8")
    val at = text.indexOf("\"batchTimestampMs\":") + 19
    val digit = text.charAt(at)
    assert(digit.isDigit, text)
    Files.write(offset, (text.take(at) + ((digit - '0' + 1) % 10) +
      text.drop(at + 1)).getBytes("UTF-8"))
    val e = intercept[Exception](drain())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.toString.contains("ChecksumException")), e)
  }

  test("the session's FileSystem and FileContext are the fork-free classes") {
    for (c <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(root, c).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(c).getRaw.getClass == classOf[NioRawLocalFileSystem])
      assert(FileContext.getFileContext(root, c).getDefaultFileSystem.getClass ==
        classOf[NioLocalFs])
    }
  }

  test("polls, a compaction and a streaming drain start no OS process") {
    def entry(guid: String, title: String): String =
      s"""{"title":"$title","published":"Mon, 05 Feb 2024 10:30:00 GMT","description":"d","link":"https://x/$guid","guid":"$guid","media_thumbnail":null,"feed":"Politics"}"""
    val snapshots = Seq(
      Seq(entry("g1", "President Alice Smith resigns"),
        entry("g2", "Mayor Bob Kane appoints Carol Day")),
      Seq(entry("g2", "Mayor Bob Kane appoints Carol Day"),
        entry("g3", "Housing rent crisis, warns Dana Reed")))
    val feeds = TestSpark.tmpDir("lfs-feeds")
    val streamFeeds = TestSpark.tmpDir("lfs-sfeeds")
    snapshots.zipWithIndex.foreach { case (lines, i) =>
      Files.write(Paths.get(streamFeeds, s"b$i.json"), lines.mkString("\n").getBytes)
    }
    val sink = new VersionedParquetSink(TestSpark.tmpDir("lfs-store"))
    val streamSink = new VersionedParquetSink(TestSpark.tmpDir("lfs-sstore"))
    val ckpt = TestSpark.tmpDir("lfs-ckpt")
    // the session and the JVM's one-time probes start first: Hadoop
    // Shell's class init runs `setsid`, and the page size the executor
    // heartbeat's process-tree metrics read comes from `getconf`
    spark.range(1).count()
    Class.forName("org.apache.hadoop.util.Shell")
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands =
      try {
        snapshots.zipWithIndex.foreach { case (lines, i) =>
          Files.write(Paths.get(feeds, s"b$i.json"), lines.mkString("\n").getBytes)
          engine.Pipeline.run(spark, feeds, sink)
        }
        sink.compact(spark, "raw")
        StreamingPipeline.stream(spark, streamFeeds, streamSink, ckpt)
          .awaitTermination()
        rec.stop()
        val dump = Files.createTempFile("lfs", ".jfr")
        rec.dump(dump)
        val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        Files.delete(dump)
        // Spark's ArtifactManager deletes a collected session's artifact
        // dir with `rm -rf` from its cleaner thread, whenever a GC finds
        // the session (a clone from any earlier suite qualifies): the
        // session's own cleanup, not a store operation
        events.filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
          .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
          .toSeq
      } finally rec.close()
    assert(sink.read(spark, "raw").count() == 3)
    assert(streamSink.read(spark, "raw").count() == 3)
    assert(commands.isEmpty, commands.mkString("\n"))
  }
}
