package graft.core

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Try
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.state.GraftTableApp

/** The fork-free local filesystem answers like Hadoop's stock one through
  * both Hadoop APIs, and a checkpointed stream on the registered session
  * starts no `chmod`/`readlink` process. */
class LocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def conf(forkFree: Boolean): Configuration = {
    val c = new Configuration()
    if (forkFree)
      GraftSession.localFsConfs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  /** The calls under test, through one Hadoop API. */
  private sealed trait Api {
    def create(p: Path, perm: FsPermission, bytes: Array[Byte]): Unit
    def mkdir(p: Path, perm: FsPermission): Unit
    def read(p: Path): Array[Byte]
    def linkStatus(p: Path): FileStatus
    def close(): Unit = ()
  }

  private class ContextApi(val fc: FileContext) extends Api {
    def create(p: Path, perm: FsPermission, bytes: Array[Byte]): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.perms(perm))
      try out.write(bytes) finally out.close()
    }
    def mkdir(p: Path, perm: FsPermission): Unit = fc.mkdir(p, perm, true)
    // open(Path) passes through FilterFs to the raw filesystem unchecked;
    // the buffer-size overload is ChecksumFs's verifying reader
    def read(p: Path): Array[Byte] = { val in = fc.open(p, 4096); try in.readAllBytes() finally in.close() }
    def linkStatus(p: Path): FileStatus = fc.getFileLinkStatus(p)
  }

  private class FileSystemApi(val fs: FileSystem) extends Api {
    def create(p: Path, perm: FsPermission, bytes: Array[Byte]): Unit = {
      val out = fs.create(p, perm, true, 4096, 1.toShort, fs.getDefaultBlockSize(p), null)
      try out.write(bytes) finally out.close()
    }
    def mkdir(p: Path, perm: FsPermission): Unit = assert(fs.mkdirs(p, perm))
    def read(p: Path): Array[Byte] = { val in = fs.open(p); try in.readAllBytes() finally in.close() }
    def linkStatus(p: Path): FileStatus = fs.getFileLinkStatus(p)
    override def close(): Unit = fs.close()
  }

  private def contextApi(forkFree: Boolean) = new ContextApi(FileContext.getFileContext(root, conf(forkFree)))
  private def fileSystemApi(forkFree: Boolean) = new FileSystemApi(FileSystem.newInstance(root, conf(forkFree)))

  /** Runs `body` on stock and fork-free filesystems through both APIs, each
    * in its own temp dir; the same assertions hold for all four. */
  private def everyApi(body: (String, Api, java.nio.file.Path) => Unit): Unit =
    for (forkFree <- Seq(false, true); api <- Seq(contextApi(forkFree), fileSystemApi(forkFree))) {
      val name = s"${if (forkFree) "fork-free" else "stock"} ${api.getClass.getSimpleName}"
      api match {
        case c: ContextApi => assert(c.fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs] == forkFree)
        case f: FileSystemApi => assert(f.fs.isInstanceOf[ForkFreeLocalFileSystem] == forkFree)
      }
      try body(name, api, Files.createTempDirectory("graft_localfs"))
      finally api.close()
    }

  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)
  private val bytes = Array.tabulate[Byte](2000)(i => (i % 251).toByte)

  test("create 0640 and mkdir 0755 set those POSIX bits") {
    everyApi { (name, api, dir) =>
      api.create(hpath(dir.resolve("f")), new FsPermission("640"), bytes)
      api.mkdir(hpath(dir.resolve("d")), new FsPermission("755"))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("f"))) ==
        "rw-r-----", name)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("d"))) ==
        "rwxr-xr-x", name)
    }
  }

  test("FileContext rename: NONE onto an existing file throws, OVERWRITE replaces it") {
    for (forkFree <- Seq(false, true)) {
      val fc = contextApi(forkFree)
      val dir = Files.createTempDirectory("graft_localfs")
      val (a, b) = (hpath(dir.resolve("a")), hpath(dir.resolve("b")))
      fc.create(a, FsPermission.getFileDefault, bytes)
      fc.create(b, FsPermission.getFileDefault, Array[Byte](1, 2, 3))
      intercept[FileAlreadyExistsException](fc.fc.rename(a, b, Options.Rename.NONE))
      fc.fc.rename(a, b, Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("a")) && !Files.exists(dir.resolve(".a.crc")))
      // the read verifies b against its renamed .crc sidecar
      assert(fc.read(b).sameElements(bytes))
    }
  }

  test("FileSystem rename onto an existing file is refused, as by stock") {
    val results = for (forkFree <- Seq(false, true)) yield {
      val api = fileSystemApi(forkFree)
      try {
        val dir = Files.createTempDirectory("graft_localfs")
        val (a, b) = (hpath(dir.resolve("a")), hpath(dir.resolve("b")))
        api.create(a, FsPermission.getFileDefault, bytes)
        api.create(b, FsPermission.getFileDefault, Array[Byte](1, 2, 3))
        (api.fs.rename(a, b), Files.exists(dir.resolve("a")), api.read(b).toSeq)
      } finally api.close()
    }
    assert(results.map(r => (r._1, r._2)) == Seq((false, true), (false, true)))
    assert(results.forall(_._3 == Seq[Byte](1, 2, 3)))
  }

  test("getFileLinkStatus on a missing path throws FileNotFoundException") {
    everyApi { (_, api, dir) =>
      intercept[FileNotFoundException](api.linkStatus(hpath(dir.resolve("missing"))))
    }
  }

  test("symlinks, live and dangling, qualified or not, answer as stock") {
    def outcomes(api: Api) = {
      val dir = Files.createTempDirectory("graft_localfs")
      Files.write(dir.resolve("target"), bytes)
      Files.createSymbolicLink(dir.resolve("live"), dir.resolve("target"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      def rel(p: Path) = p.toUri.getPath.stripPrefix(dir.toString)
      try for (link <- Seq("live", "dangling"); qualified <- Seq(true, false)) yield {
        val p = if (qualified) hpath(dir.resolve(link)) else new Path(dir.resolve(link).toString)
        (link, qualified) -> Try(api.linkStatus(p)).fold(_.getClass.getName, s =>
          (s.isSymlink, s.isFile, s.getLen, if (s.isSymlink) rel(s.getSymlink) else "", rel(s.getPath)))
      } finally api.close()
    }
    for (api <- Seq[Boolean => Api](contextApi, fileSystemApi)) {
      val stock = outcomes(api(false))
      assert(outcomes(api(true)) == stock)
      assert(stock.exists(_._2 match { case (isLink: Boolean, _, _, _, _) => isLink; case _ => false }),
        s"no variant was seen as a link: $stock")
    }
  }

  test(".crc sidecars are written and a flipped data byte fails the read") {
    everyApi { (name, api, dir) =>
      api.create(hpath(dir.resolve("f")), FsPermission.getFileDefault, bytes)
      assert(Files.exists(dir.resolve(".f.crc")), name)
      val raf = new RandomAccessFile(dir.resolve("f").toFile, "rw")
      try { raf.seek(100); raf.write(bytes(100) ^ 0xff) } finally raf.close()
      intercept[ChecksumException](api.read(hpath(dir.resolve("f"))), name)
    }
  }

  test("checkpointed micro-batches start no chmod/readlink process; state survives a restart") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(hconf.get("fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
    assert(hconf.get("fs.AbstractFileSystem.file.impl") == classOf[ForkFreeLocalFs].getName)

    val ckpt = Files.createTempDirectory("graft_localfs_ckpt")
    val out = new ConcurrentLinkedQueue[(String, Long, Long)]()
    def msg(k: String, off: Long) =
      Message(k, "1", Map.empty, "in", 0, off, new Timestamp(1700000000000L + off))
    val batches = Seq(Seq(msg("a", 0), msg("b", 1)), Seq(msg("a", 2)), Seq(msg("a", 3), msg("b", 4)))
    def start(in: MemoryStream[Message]) =
      GraftTableApp.transform(in.toDS()) { txn =>
        val n = txn.readTableEntry().map(_.toLong).getOrElse(0L) + 1
        txn.updateTableEntry(n.toString)
        Iterator.single((txn.message.key, txn.message.offset, n))
      }.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: Dataset[(String, Long, Long)], _: Long) => b.collect().foreach(out.add) }
        .start()

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val in1 = MemoryStream[Message](spark)
      val q1 = start(in1)
      try batches.foreach { b => in1.addData(b); q1.processAllAvailable() } finally q1.stop()
      // control: the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    try rec.dump(dump) finally rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    def exe(c: String) = c.takeWhile(_ != ' ').split('/').last
    assert(commands.exists(c => exe(c) == "true"), s"control process not recorded: $commands")
    val forks = commands.filter(c => Set("chmod", "readlink")(exe(c)))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
    // the checkpoint still carries ChecksumFs sidecars
    val walk = Files.walk(ckpt)
    try assert(walk.iterator.asScala.exists(_.getFileName.toString.endsWith(".crc")))
    finally walk.close()

    // restart: the committed batches are skipped, the counters carry on
    val in2 = MemoryStream[Message](spark)
    batches.foreach(b => in2.addData(b))
    in2.addData(Seq(msg("a", 5), msg("b", 6)))
    val q2 = start(in2)
    try q2.processAllAvailable() finally q2.stop()
    assert(out.asScala.toSeq.sortBy(_._2) == Seq(("a", 0L, 1L), ("b", 1L, 1L), ("a", 2L, 2L),
      ("a", 3L, 3L), ("b", 4L, 2L), ("a", 5L, 4L), ("b", 6L, 3L)))
  }
}
