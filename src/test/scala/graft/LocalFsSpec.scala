package graft

import java.io.{File, FileNotFoundException}
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.util.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's `file:` filesystem: registered for every session, the same
  * files and mode bits as Hadoop's, and no process launches. Each case
  * runs an operation on graft's filesystem and on Hadoop's stock one
  * over sibling paths and compares the outcome. */
class LocalFsSpec extends SparkTestBase {
  private val root = URI.create("file:///")
  private def conf = new Configuration()

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = { fs.initialize(root, conf); fs }
  private lazy val graftRaw = raw(new NioRawLocalFileSystem)
  private lazy val stockRaw = raw(new RawLocalFileSystem)
  private lazy val graftFc = FileContext.getLocalFSFileContext(conf)
  private lazy val stockFc = {
    val c = conf
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, c)
  }

  /** Permission, setuid/setgid and sticky bits of `p`. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Integer].intValue & 0xfff
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Every field of a status, or the class of what the call threw.
    * Hadoop's statuses load permission, owner and group only through
    * their getters, which its `toString` skips. */
  private def outcome(status: => Any): Either[Class[_], String] = {
    def show(st: FileStatus) = Seq(st.getPath, st.isDirectory, st.getLen, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
      st.getGroup, st.isSymlink, if (st.isSymlink) st.getSymlink else "").mkString("; ")
    Try(status match {
      case all: Array[FileStatus] => all.map(show).sorted.mkString("\n")
      case one: FileStatus => show(one)
    }).toEither.left.map(_.getClass)
  }

  test("file: resolves to graft's filesystems in a GraftSession") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hc).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.get(root, spark.sessionState.newHadoopConf()).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("file: resolves to graft's filesystems in a plain builder session") {
    // perfbench's harness builds its session with SparkSession.builder and
    // its own conf, never GraftSession; a child JVM stands for it
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val tmp = scratch.dir("localfs_child")
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(java) ++ jvm ++ Seq("-Xmx768m", s"-Djava.io.tmpdir=$tmp",
      "-cp", System.getProperty("java.class.path"), classOf[LocalFsSpec].getName)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, out)
    val resolved = out.linesIterator.filter(_.startsWith("file: ")).map(_.stripPrefix("file: ")).toSeq
    assert(resolved == Seq(classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName), out)
  }

  test("create, mkdirs and setPermission leave the same mode bits as Hadoop's") {
    val dir = scratch.dir("localfs_modes")
    def both(name: String)(op: (RawLocalFileSystem, FileContext, Path) => Unit): Unit = {
      val g = new Path(s"file:$dir/graft/$name")
      val s = new Path(s"file:$dir/stock/$name")
      op(graftRaw, graftFc, g)
      op(stockRaw, stockFc, s)
      assert(mode(g) == mode(s), f"$name: graft ${mode(g)}%o, stock ${mode(s)}%o")
    }
    for (m <- Seq("644", "755", "700", "640", "777")) {
      val perm = octal(m)
      both(s"create_$m")((fs, _, p) => fs.create(p, perm, true, 4096, 1.toShort, 1L << 25, null).close())
      both(s"mkdirs_$m")((fs, _, p) => assert(fs.mkdirs(p, perm)))
      both(s"chmod_$m") { (fs, _, p) => fs.create(p).close(); fs.setPermission(p, perm) }
      both(s"fc_create_$m")((_, fc, p) => fc.create(p, EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm), Options.CreateOpts.createParent()).close())
      both(s"fc_mkdir_$m")((_, fc, p) => fc.mkdir(p, perm, true))
    }
    // the sticky bit, and a directory's setgid bit, which `chmod 0755`
    // keeps and the nine bits alone would clear
    both("sticky")((fs, _, p) => assert(fs.mkdirs(p, octal("1777"))))
    both("setgid") { (fs, _, p) =>
      assert(fs.mkdirs(p, octal("755")))
      Files.setAttribute(Paths.get(p.toUri), "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
      fs.setPermission(p, octal("750"))
    }
    assert(mode(new Path(s"file:$dir/graft/setgid")) == Integer.parseInt("2750", 8))
  }

  test("getFileLinkStatus matches Hadoop's on files, directories and symlinks") {
    val dir = scratch.dir("localfs_links")
    Files.createFile(Paths.get(dir, "file"))
    Files.createDirectory(Paths.get(dir, "dir"))
    Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "file"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
    // a qualified path (what FileContext's callers pass) never reads as
    // a symlink in Hadoop's either: its readlink names `file:/...`
    // relative to the working directory
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         path <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      assert(outcome(graftRaw.getFileLinkStatus(path)) == outcome(stockRaw.getFileLinkStatus(path)), path)
      assert(outcome(graftFc.getFileLinkStatus(path)) == outcome(stockFc.getFileLinkStatus(path)), path)
    }
    assert(graftRaw.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(graftFc.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    intercept[FileNotFoundException](graftRaw.getFileLinkStatus(new Path(s"file:$dir/missing")))
    intercept[FileNotFoundException](graftFc.getFileLinkStatus(new Path(s"file:$dir/missing")))
  }

  test("getFileStatus and listStatus match Hadoop's on files, directories and symlinks") {
    val dir = scratch.dir("localfs_status")
    Files.write(Paths.get(dir, "file"), "abc".getBytes)
    Files.createDirectory(Paths.get(dir, "dir"))
    Files.createDirectory(Paths.get(dir, "sticky"))
    Files.setAttribute(Paths.get(dir, "sticky"), "unix:mode", Integer.valueOf(Integer.parseInt("1777", 8)))
    Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "file"))
    Files.createSymbolicLink(Paths.get(dir, "dirlink"), Paths.get(dir, "dir"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
    for (name <- Seq("", "file", "dir", "sticky", "link", "dirlink", "dangling", "missing");
         path <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      assert(outcome(graftRaw.getFileStatus(path)) == outcome(stockRaw.getFileStatus(path)), path)
      assert(outcome(graftRaw.listStatus(path)) == outcome(stockRaw.listStatus(path)), path)
    }
    assert(graftRaw.getFileStatus(new Path(s"file:$dir/sticky")).getPermission == octal("1777"))
    intercept[FileNotFoundException](graftRaw.getFileStatus(new Path(s"file:$dir/missing")))
  }

  test("a parquet write, table reads and a q94 run start no chmod, readlink, ls or stat") {
    // Shell's class init forks setsid once
    Class.forName("org.apache.hadoop.util.Shell")
    val dir = scratch.dir("localfs_jfr")
    val commands = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => { commands.add(e.getString("command")); () })
      rs.onFlush(() => { flushes.incrementAndGet(); () })
      rs.startAsync()
      spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$dir/out.parquet")
      Seq("out", "out").foreach(graft.util.Tables.t(spark, dir, _).collect())
      // a LocatedFileStatus copies its status's owner, group and permission
      val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
      val listed = fs.listFiles(new Path(s"file:$dir"), true)
      var files = 0
      while (listed.hasNext) { listed.next(); files += 1 }
      assert(files > 1)
      val status = fs.getFileStatus(new Path(s"file:$dir/out.parquet"))
      assert(status.getOwner.nonEmpty && status.getGroup.nonEmpty && status.getPermission != null)
      SparkEntry.queries("q94_stream_window")(spark, sfDir).collect()
      // Hadoop's own filesystem still forks, so the recording sees it
      val probe = Files.createFile(Paths.get(dir, "probe"))
      stockRaw.setPermission(new Path(probe.toUri), octal("600"))
      // every event committed before a flush is delivered by its end
      val after = flushes.get
      val deadline = System.nanoTime + 60000000000L
      while (flushes.get < after + 2 && System.nanoTime < deadline) Thread.sleep(50)
      assert(flushes.get >= after + 2, "the recording stopped flushing")
    } finally rs.close()
    val forks = commands.asScala.toSeq.filter { c =>
      Set("chmod", "readlink", "ls", "stat")(new File(c.trim.takeWhile(_ != ' ')).getName)
    }
    assert(forks.size == 1 && forks.head.startsWith("chmod 0600 ") && forks.head.endsWith("/probe"),
      commands.asScala.mkString("\n"))
  }
}

object LocalFsSpec {
  /** The child JVM of the plain-builder case: prints the classes `file:`
    * resolves to in a session built without GraftSession. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val hc = spark.sessionState.newHadoopConf()
      println(s"file: ${FileSystem.get(URI.create("file:///"), hc).getClass.getName}")
      println(s"file: ${FileContext.getFileContext(URI.create("file:///"), hc).getDefaultFileSystem.getClass.getName}")
    } finally spark.stop()
  }
}
