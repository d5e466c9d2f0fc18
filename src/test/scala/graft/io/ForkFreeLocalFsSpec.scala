package graft.io

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Using

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.core.Model.Transaction
import graft.streaming.{FraudDetection, Streams}

/** The engine's local filesystem forks no process on the write paths
  * of checkpoints, state stores and sinks, and keeps Hadoop's
  * permission, symlink, rename and checksum semantics. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def tmpDir(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def localFs: FileSystem = FileSystem.get(new java.net.URI("file:///"), hconf)
  private def fileContext: FileContext = FileContext.getFileContext(hconf)
  private def hpath(p: JPath): Path = new Path(p.toUri)
  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Runs `body` under a JFR recording of `jdk.ProcessStart` and
    * returns the recorded events. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val dump = Files.createTempFile("spawns", ".jfr")
    try {
      Using.resource(new Recording()) { rec =>
        rec.enable("jdk.ProcessStart").withStackTrace()
        rec.start()
        try body finally rec.stop()
        rec.dump(dump)
      }
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally Files.deleteIfExists(dump)
  }

  private def viaHadoopShell(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))

  private def runFraudStream(checkpoint: JPath): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val txns = FraudDetection.canonicalTransactions.sortBy(_.timestamp)
    val input = MemoryStream[Transaction]
    val q = FraudDetection.detectStream(input.toDS())
      .writeStream.format("memory").queryName("fork_free_fraud")
      .option("checkpointLocation", checkpoint.toString)
      .outputMode("append").start()
    try txns.grouped(4).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    } finally q.stop()
  }

  test("a GraftSession resolves file: to the fork-free filesystem for FileSystem and FileContext") {
    assert(localFs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(localFs.asInstanceOf[ForkFreeLocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(fileContext.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("checkpointed streaming, idempotent appends and a parquet write fork no Hadoop shell command") {
    import spark.implicits._
    val checkpoint = tmpDir("ff-ckpt")
    val store = tmpDir("ff-store").resolve("store").toString
    val out = tmpDir("ff-out").resolve("out").toString
    val starts = processStarts {
      runFraudStream(checkpoint)
      Streams.idempotentAppend((1 to 50).map(i => (i.toLong, s"a$i")).toDF("id", "v"), Seq("id"), store)
      // overlaps the first append's key range: the anti-join path runs
      Streams.idempotentAppend((40 to 80).map(i => (i.toLong, s"b$i")).toDF("id", "v"), Seq("id"), store)
      spark.range(100).toDF("id").write.parquet(out)
    }
    val shell = starts.filter(viaHadoopShell)
    assert(shell.isEmpty, shell.take(3).map(e => e.getString("command") + "\n" + e.getStackTrace).mkString("\n"))
    // the workload really ran and wrote through the filesystem
    assert(Files.exists(checkpoint.resolve("commits").resolve("2")))
    assert(spark.read.parquet(store).count() == 80)
    assert(spark.read.parquet(out).count() == 100)
  }

  test("checkpoint logs and state-store deltas keep their .crc sidecars") {
    val checkpoint = tmpDir("ff-crc")
    runFraudStream(checkpoint)
    def visible(dir: JPath): Seq[JPath] =
      Using.resource(Files.walk(dir))(_.iterator.asScala.toList)
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    val logs = Seq("offsets", "commits").flatMap(d => visible(checkpoint.resolve(d)))
    val deltas = visible(checkpoint.resolve("state")).filter(_.getFileName.toString.endsWith(".delta"))
    assert(logs.size >= 6 && deltas.nonEmpty)
    (logs ++ deltas).foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc next to $f")
    }
  }

  test("explicit and umask-default permissions land on disk") {
    val dir = tmpDir("ff-perm")
    val fs = localFs
    val explicit = dir.resolve("explicit")
    fs.create(hpath(explicit), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
    assert(perms(explicit) == "rw-r-----")
    fs.setPermission(hpath(explicit), new FsPermission("604"))
    assert(perms(explicit) == "rw----r--")

    val umask = FsPermission.getUMask(hconf)
    val plain = dir.resolve("plain")
    fs.create(hpath(plain)).close()
    assert(perms(plain) == FsPermission.getFileDefault.applyUMask(umask).toString)
    val sub = dir.resolve("sub")
    assert(fs.mkdirs(hpath(sub)))
    assert(perms(sub) == FsPermission.getDirDefault.applyUMask(umask).toString)
  }

  test("a sticky-bit permission takes the fallback path and still applies") {
    val dir = tmpDir("ff-sticky").resolve("shared")
    assert(localFs.mkdirs(hpath(dir)))
    localFs.setPermission(hpath(dir), new FsPermission("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == 0x3ff) // 01777
  }

  test("getFileLinkStatus reports a symlink as a link, and agrees with Hadoop's own") {
    val dir = tmpDir("ff-link")
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val raw = localFs.asInstanceOf[ForkFreeLocalFileSystem].getRaw
    val linkStatus = raw.getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink)
    assert(linkStatus.getSymlink.toUri.getPath == target.toString)
    val fileStatus = raw.getFileLinkStatus(new Path(target.toString))
    assert(!fileStatus.isSymlink && fileStatus.isFile && fileStatus.getLen == 1)
    // Hadoop's `readlink` sees the path's string, so a qualified
    // `file:` path (all FileContext passes) is never reported as a
    // link; the fork-free answer must match on every form.
    val stock = new RawLocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), hconf)
    for (p <- Seq(link, target); path <- Seq(new Path(p.toString), hpath(p))) {
      val (ours, hadoop) = (raw.getFileLinkStatus(path), stock.getFileLinkStatus(path))
      assert((ours.getPath, ours.isSymlink, ours.isFile, ours.getLen) ==
        (hadoop.getPath, hadoop.isSymlink, hadoop.isFile, hadoop.getLen), s"$path")
      if (ours.isSymlink) assert(ours.getSymlink == hadoop.getSymlink)
    }
    assert(fileContext.getFileLinkStatus(hpath(link)).isSymlink ==
      FileContext.getLocalFSFileContext(new Configuration()).getFileLinkStatus(hpath(link)).isSymlink)
  }

  test("FileContext rename with OVERWRITE replaces an existing file and its checksum") {
    val dir = tmpDir("ff-rename")
    val fc = fileContext
    def write(p: JPath, s: String): Unit =
      Using.resource(fc.create(hpath(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)))(
        _.write(s.getBytes(UTF_8)))
    val src = dir.resolve("src")
    val dst = dir.resolve("dst")
    write(src, "new contents")
    write(dst, "old")
    fc.rename(hpath(src), hpath(dst), Options.Rename.OVERWRITE)
    assert(!Files.exists(src) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    val back = Using.resource(fc.open(hpath(dst)))(in => new String(in.readAllBytes(), UTF_8))
    assert(back == "new contents")
  }

  test("a flipped byte in a checksummed file still fails the read") {
    // Read through ChecksumFs (FileContext). The FileSystem reader, on
    // a checksum failure, moves the file to a `bad_files` directory at
    // the top of its device, outside the test's tree. The buffer-size
    // overload of `open` is the verifying one: Hadoop's
    // `FilterFs.open(path)` goes straight to the raw filesystem.
    val dir = tmpDir("ff-corrupt")
    val fc = fileContext
    val payload = ("checkpoint entry " * 64).getBytes(UTF_8)
    val viaFc = dir.resolve("via-fc")
    Using.resource(fc.create(hpath(viaFc), EnumSet.of(CreateFlag.CREATE)))(_.write(payload))
    val viaFs = dir.resolve("via-fs")
    Using.resource(localFs.create(hpath(viaFs)))(_.write(payload))
    def read(p: JPath): Array[Byte] = Using.resource(fc.open(hpath(p), 4096))(_.readAllBytes())
    Seq(viaFc, viaFs).foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
      assert(read(p).sameElements(payload))
      Using.resource(new RandomAccessFile(p.toFile, "rw")) { f =>
        f.seek(100)
        val b = f.read()
        f.seek(100)
        f.write(b ^ 0x01)
      }
      intercept[ChecksumException](read(p))
    }
  }

  test("a restart from a checkpoint with a corrupt offset-log entry fails the checksum") {
    // Spark reads checkpoint logs with FileContext.open(path), the
    // one-argument overload
    val dir = tmpDir("ff-offsets")
    val in = dir.resolve("in")
    Files.createDirectories(in)
    Files.write(in.resolve("0.json"), (1 to 5).map(i => s"""{"id":$i}""").mkString("\n").getBytes(UTF_8))
    val checkpoint = dir.resolve("checkpoint")
    def run(): Unit = {
      val q = spark.readStream.schema("id LONG").json(in.toString)
        .writeStream.format("parquet").option("path", dir.resolve("out").toString)
        .option("checkpointLocation", checkpoint.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    val entry = checkpoint.resolve("offsets").resolve("0")
    assert(Files.exists(entry.resolveSibling(".0.crc")))
    Using.resource(new RandomAccessFile(entry.toFile, "rw")) { f =>
      val at = f.length() / 2
      f.seek(at)
      val b = f.read()
      f.seek(at)
      f.write(b ^ 0x01)
    }
    val e = intercept[Exception](run())
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[ChecksumException]), chain(e).mkString("\n"))
  }
}
