package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The session's `file:` filesystem (`Engine.configure` registers
  * `ForkFreeLocalFileSystem` / `ForkFreeLocalFs`): no shell process per
  * call, and the same observable behavior as Hadoop's stock
  * `RawLocalFileSystem` under the same checksum layers. */
class LocalFsSpec extends SparkSuiteBase {

  private val LocalUri = URI.create("file:///")

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(LocalUri, new Configuration())
    fs
  }

  /** Runs `body` under an in-process JFR recording of `jdk.ProcessStart`
    * (with stacks) and returns the recorded events. */
  private def processStarts(body: => Unit): Seq[jdk.jfr.consumer.RecordedEvent] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("fork guard: parquet write, checkpointed streaming aggregation and FileContext.rename start no Hadoop shell process") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-forkguard").toFile
    val src = new java.io.File(root, "src").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath
    val t0 = 1700000000000000L // μs
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, ts TIMESTAMP")
    // the session (and Hadoop's one-time class set-up) exists before recording
    assert(FileSystem.get(LocalUri, hadoopConf).getClass === classOf[ForkFreeLocalFileSystem])
    val events = processStarts {
      // control: the recording sees a fork that does not come from Hadoop
      new ProcessBuilder("true").start().waitFor()
      // a parquet write: two files, the second batch's rows past the first
      // window so the watermark closes it
      Seq((1L, t0), (2L, t0 + 1000000L)).toDF("k", "us")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
        .repartition(1).write.mode("append").parquet(src)
      Seq((1L, t0 + 3600000000L)).toDF("k", "us")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
        .repartition(1).write.mode("append").parquet(src)
      // a two-batch checkpointed streaming aggregation over the file feed
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 minute"))
        .agg(count(lit(1)).as("cnt"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "streaming query did not finish")
      assert(q.exception.isEmpty, q.exception.toString)
      assert(q.recentProgress.count(_.numInputRows > 0) === 2)
      // a FileContext.rename
      val fc = FileContext.getFileContext(LocalUri, hadoopConf)
      val from = new Path(root.getAbsolutePath, "from")
      fc.create(from, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      fc.rename(from, new Path(root.getAbsolutePath, "to"), Options.Rename.OVERWRITE)
    }
    Fs.rmRf(root)
    assert(events.exists(_.getString("command").startsWith("true")),
      s"the recording missed the control fork: ${events.map(_.getString("command"))}")
    val shell = events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    val byCommand = shell.groupBy(_.getString("command").takeWhile(_ != ' '))
      .map { case (cmd, es) => s"$cmd×${es.size}" }
    assert(shell.size === 0, s"Hadoop shell forks by command: ${byCommand.mkString(", ")}")
  }

  test("setPermission: 0755, 0644, 0700 and 01777 bits match stock RawLocalFileSystem on sibling files and directories") {
    val stock = initialized(new RawLocalFileSystem)
    val forkFree = initialized(new ForkFreeRawLocalFileSystem)
    val dir = Files.createTempDirectory("graft-perm")
    for (octal <- Seq("0755", "0644", "0700", "01777"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(java.lang.Short.parseShort(octal, 8))
      // a fresh file or directory per filesystem, side by side in `dir`
      def chmodded(fs: FileSystem, name: String): (JPath, FsPermission) = {
        val p = dir.resolve(s"$name-$octal-${if (isDir) "d" else "f"}")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(new Path(p.toString), perm)
        (p, fs.getFileStatus(new Path(p.toString)).getPermission)
      }
      val (sp, sPerm) = chmodded(stock, "stock")
      val (fp, fPerm) = chmodded(forkFree, "forkfree")
      val what = s"$octal ${if (isDir) "directory" else "file"}"
      assert(Files.getPosixFilePermissions(fp) === Files.getPosixFilePermissions(sp), what)
      assert(fPerm === sPerm, what)
      assert(fPerm === perm, what)
    }
    Fs.rmRf(dir.toFile)
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem for links, files and directories, qualified and not") {
    val stock = initialized(new RawLocalFileSystem)
    val forkFree = initialized(new ForkFreeRawLocalFileSystem)
    val dir = Files.createTempDirectory("graft-link")
    val target = Files.write(dir.resolve("target"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val sub = Files.createDirectory(dir.resolve("sub"))
    def view(s: FileStatus) =
      (s.getPath, s.isSymlink, s.isFile, s.isDirectory, s.getLen,
        if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(link, target, sub);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(view(forkFree.getFileLinkStatus(path)) === view(stock.getFileLinkStatus(path)),
        path.toString)
    }
    // the unqualified link is reported as a link with its target
    assert(forkFree.getFileLinkStatus(new Path(link.toString)).isSymlink)
    Fs.rmRf(dir.toFile)
  }

  test("a corrupted .crc still fails the read with ChecksumException through FileSystem and FileContext") {
    val dir = Files.createTempDirectory("graft-crc")
    val p = new Path(dir.resolve("data").toString)
    val fs = FileSystem.get(LocalUri, hadoopConf)
    val out = fs.create(p)
    out.write(Array.tabulate[Byte](4096)(_.toByte))
    out.close()
    val crc = dir.resolve(".data.crc")
    val bytes = Files.readAllBytes(crc)
    bytes(8) = (bytes(8) ^ 0xff).toByte // the first chunk's CRC, after the header
    Files.write(crc, bytes)
    intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    // FileContext.open(Path) goes through FilterFs.open(Path), which skips
    // ChecksumFs in stock Hadoop too; the sized open is the checked one
    intercept[ChecksumException] {
      val in = FileContext.getFileContext(LocalUri, hadoopConf).open(p, 4096)
      try in.readAllBytes() finally in.close()
    }
    Fs.rmRf(dir.toFile)
  }

  test("the session's file: FileSystem and AbstractFileSystem resolve to the fork-free classes") {
    assert(FileSystem.get(LocalUri, hadoopConf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    assert(AbstractFileSystem.get(LocalUri, hadoopConf).getClass === classOf[ForkFreeLocalFs])
  }
}
