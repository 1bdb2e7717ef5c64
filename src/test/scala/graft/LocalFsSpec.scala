package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import graft.model.EngineConf
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** graft's fork-free local file system (`sources/LocalFs`) answers as
  * the stock `LocalFileSystem`/`LocalFs` does, is what a graft session
  * serves for `file:`, and leaves a produce leg and a streaming run
  * without any forked `chmod`/`readlink`/`ls`/`stat`. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tmp: JPath = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("localfs-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tmp = Files.createTempDirectory("graft-localfs")
  }
  override def afterAll(): Unit = {
    if (tmp != null) graft.operators.PlanCache.deleteRecursively(tmp)
    if (spark != null) spark.stop()
  }

  private val Root = URI.create("file:///")
  private val sf0001 = s"${sys.props("user.home")}/testdata/sf0.001"

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** The stock and graft `FileSystem` pair under one configuration. */
  private def fileSystems(c: Configuration): Seq[(String, FileSystem)] = {
    val stock = new LocalFileSystem()
    stock.initialize(Root, c)
    val graft = new GraftLocalFileSystem()
    graft.initialize(Root, c)
    Seq("stock" -> stock, "graft" -> graft)
  }

  /** The stock and graft `FileContext` pair under one configuration. */
  private def fileContexts(c: Configuration): Seq[(String, FileContext)] =
    Seq("stock" -> classOf[org.apache.hadoop.fs.local.LocalFs], "graft" -> classOf[GraftLocalFs])
      .map { case (k, cls) =>
        val cc = new Configuration(c)
        cc.set("fs.AbstractFileSystem.file.impl", cls.getName)
        k -> FileContext.getFileContext(AbstractFileSystem.get(Root, cc), cc)
      }

  /** The full st_mode permission bits, sticky/setuid/setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def dir(name: String): String =
    Files.createDirectories(tmp.resolve(name)).toString

  test("create/mkdirs modes under umask 022 and 077 and a sticky setPermission equal the stock FS's") {
    for (umask <- Seq("022", "077")) {
      val c = conf(umask)
      val modes = fileSystems(c).map { case (k, fs) =>
        val d = dir(s"modes_${umask}_fs_$k")
        fs.create(new Path(s"$d/f")).close()
        fs.mkdirs(new Path(s"$d/plain/a"))
        fs.mkdirs(new Path(s"$d/perm/a"), FsPermission.getDirDefault)
        fs.mkdirs(new Path(s"$d/sticky"))
        fs.setPermission(new Path(s"$d/sticky"), new FsPermission(Integer.parseInt("1755", 8).toShort))
        fs.setPermission(new Path(s"$d/f"), new FsPermission(Integer.parseInt("640", 8).toShort))
        Seq("f", ".f.crc", "plain", "plain/a", "perm", "perm/a", "sticky").map(r => r -> mode(s"$d/$r"))
      }
      assert(modes(0) == modes(1), s"umask $umask: stock ${modes(0)} graft ${modes(1)}")
      assert(modes(1).toMap.apply("sticky") == Integer.parseInt("1755", 8))
      val viaContext = fileContexts(c).map { case (k, fc) =>
        val d = dir(s"modes_${umask}_fc_$k")
        fc.mkdir(new Path(s"$d/m/n"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$d/m/n/f"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.setPermission(new Path(s"$d/m"), new FsPermission(Integer.parseInt("1700", 8).toShort))
        Seq("m", "m/n", "m/n/f", "m/n/.f.crc").map(r => r -> mode(s"$d/$r"))
      }
      assert(viaContext(0) == viaContext(1),
        s"umask $umask: stock ${viaContext(0)} graft ${viaContext(1)}")
    }
  }

  /** Everything a status says, permission and owner included. */
  private def show(st: FileStatus): String = st.toString

  private def linkStatus(fs: FileSystem, p: Path): Either[Class[_], String] =
    try Right(show(fs.getFileLinkStatus(p)))
    catch { case e: java.io.IOException => Left(e.getClass) }

  test("getFileLinkStatus equals the stock answer: qualified, unqualified, dir, missing, symlink") {
    val d = dir("links")
    Files.write(Paths.get(s"$d/file"), "x".getBytes)
    Files.createDirectories(Paths.get(s"$d/sub"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file"))
    val raw = Seq(new RawLocalFileSystem(), new GraftRawLocalFileSystem())
    raw.foreach(_.initialize(Root, new Configuration()))
    val cases = Seq(
      "qualified" -> new Path(s"file:$d/file"),
      "unqualified" -> new Path(s"$d/file"),
      "dir" -> new Path(s"$d/sub"),
      "missing" -> new Path(s"$d/absent"),
      "symlink" -> new Path(s"$d/link"),
      "qualified symlink" -> new Path(s"file:$d/link"))
    for ((what, p) <- cases) {
      val Seq(stock, graft) = raw.map(linkStatus(_, p))
      assert(stock == graft, s"$what: stock $stock graft $graft")
    }
    assert(linkStatus(raw(1), new Path(s"$d/absent")) == Left(classOf[FileNotFoundException]))
    assert(raw(1).getFileLinkStatus(new Path(s"$d/link")).isSymlink)
    val viaContext = fileContexts(new Configuration()).map { case (_, fc) =>
      Seq("file", "sub", "link").map(r => show(fc.getFileLinkStatus(new Path(s"$d/$r"))))
    }
    assert(viaContext(0) == viaContext(1))
  }

  test("a graft session serves file: through graft's FileSystem and FileContext classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    // FileSystem.get's JVM-wide cache ignores fs.file.impl; a new
    // instance reads it from the session's configuration
    val fs = FileSystem.newInstance(Root, hc)
    try assert(fs.getClass == classOf[GraftLocalFileSystem])
    finally fs.close()
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.getClass == classOf[GraftLocalFs])
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a produce leg and an sq2 run fork no chmod, readlink, ls or stat process") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = tmp.resolve("forks.jfr")
    val conf = EngineConf(totalMensagens = 2000, tamanhoMensagemKB = 1, numParticoes = 18,
      warmupMensagens = 100, seed = 42)
    rec.start()
    try {
      Main.produce(spark, conf, dir("produce"), avro = true).collect()
      SparkEntry.queries("sq2_stream_dedup")(spark, sf0001).collect()
    } finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map { e =>
      (e.getString("command"), Option(e.getThread).map(_.getJavaName).getOrElse(""))
    }
    // Spark deletes a dropped session's artifact dir with `rm -rf` on
    // its Cleaner thread, after the session is garbage: off every op's path
    val onPath = starts.filterNot { case (cmd, thread) =>
      cmd.startsWith("rm -rf ") && thread.contains("Cleaner")
    }
    val forked = onPath.filter { case (cmd, _) =>
      Set("chmod", "readlink", "ls", "stat").contains(cmd.split(' ').head)
    }
    assert(forked.size == 0, s"first: ${forked.take(3)}")
    assert(onPath.size == 0, s"processes on an op's path, first: ${onPath.take(3)}")
  }
}
