package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.SnapshotTable

/** The session's `file:` filesystem: [[NoForkLocalFileSystem]] everywhere
  * the engine resolves one (`FileContext` included), no child process on
  * the write path, and the same permission bits a stock
  * [[LocalFileSystem]] leaves. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()

  private def stock: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** The commands of every child process the JVM starts while `body`
    * runs. Two forks that are not the write path run before the
    * recording starts: Spark's one-time page-size probe
    * (`getconf PAGESIZE`, run when the first executor-metrics poll loads
    * `ProcfsMetricsGetter`, whenever the first heartbeat falls) and the
    * `rm -rf` of the artifact directory of each session the GC has
    * already dropped. */
  private def processStarts(dir: String)(body: => Unit): Seq[String] = {
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    System.gc()
    Thread.sleep(500)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile(Paths.get(dir), "rec", ".jfr")
    rec.dump(out)
    rec.close()
    RecordingFile.readAllEvents(out).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
  }

  test("the session and SnapshotTable resolve file: to NoForkLocalFileSystem") {
    assert(FileSystem.get(URI.create("file:///"), conf)
      .isInstanceOf[NoForkLocalFileSystem])
    val (fs, _) = SnapshotTable.fsRoot(scratch("graft-localfs"))
    assert(fs.isInstanceOf[NoForkLocalFileSystem])
  }

  test("a partitioned write and a snapshot commit start no child process") {
    val dir = scratch("graft-localfs")
    val rows = (0L until 200L).map(k => (k, s"p${k % 4}", 0L, false))
      .toDF("k", "part", "version", "del")
    def writeBoth(to: String): Unit = {
      rows.write.partitionBy("part").parquet(s"$to/plain")
      SnapshotTable.upsert(spark, s"$to/snap", rows, "part", Seq("k"),
        "version", "del")
    }
    // once unrecorded first: first-use class loading and caches are not
    // the write path
    writeBoth(s"$dir/warm")
    val commands = processStarts(dir)(writeBoth(dir))
    assert(commands.isEmpty,
      commands.take(3).mkString(s"${commands.size} process starts, first: ", "; ", ""))
    assert(SnapshotTable.read(spark, s"$dir/snap").count() == 200L)
  }

  test("a checkpointed AvailableNow stream starts no child process") {
    val dir = scratch("graft-localfs")
    (0L until 200L).map(k => (k, s"p${k % 4}")).toDF("k", "part")
      .write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    // checkpoint files, commit renames and the sink's own log all go
    // through FileContext
    def stream(to: String): Unit =
      spark.readStream.schema(schema).parquet(s"$dir/in")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$to/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(s"$to/out")
        .awaitTermination()
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NoForkLocalFileSystem.Fs])
    stream(s"$dir/warm")
    // each stream runs in a cloned session; when the GC drops one, Spark's
    // cleaner thread deletes its artifact directory with `rm -rf`
    // (JavaUtils.deleteRecursively on Unix) whenever that happens to be:
    // session teardown, not the checkpoint path
    val commands = processStarts(dir)(stream(s"$dir/run"))
      .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    assert(commands.isEmpty,
      commands.take(3).mkString(s"${commands.size} process starts, first: ", "; ", ""))
    assert(spark.read.parquet(s"$dir/run/out").count() == 200L)
  }

  test("files and directories get the same permission bits as a stock LocalFileSystem") {
    val noFork = FileSystem.get(URI.create("file:///"), conf)
    assert(noFork.isInstanceOf[NoForkLocalFileSystem])
    val dir = scratch("graft-localfs")
    // a setgid parent: `chmod 0755` keeps a directory's setgid bit
    val sgid = new Path(s"file://$dir/sgid")
    Files.createDirectory(Paths.get(sgid.toUri))
    Files.setAttribute(Paths.get(sgid.toUri), "unix:mode", Integer.parseInt("2775", 8))
    val perms = Seq(None, Some(octal("600")), Some(octal("750")))
    def make(fs: FileSystem, tag: String): Seq[Path] = {
      val d = new Path(sgid, s"$tag/a/b")
      assert(fs.mkdirs(d))
      perms.zipWithIndex.flatMap { case (perm, i) =>
        val f = new Path(d, s"f$i")
        val o = perm match {
          case Some(p) => fs.create(f, p, true, 4096, 1.toShort, 1L << 20, null)
          case None => fs.create(f)
        }
        o.write(1)
        o.close()
        val g = new Path(d, s"g$i")
        fs.create(g).close()
        perm.foreach(fs.setPermission(g, _))
        Seq(f, new Path(d, s".f$i.crc"), g)
      } ++ Seq(d, d.getParent, d.getParent.getParent)
    }
    val got = make(noFork, "nofork").map(mode)
    val want = make(stock, "stock").map(mode)
    assert(got == want)
  }

  test("a sticky-bit permission still applies") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    val d = new Path(s"file://${scratch("graft-localfs")}/sticky")
    assert(fs.mkdirs(d))
    fs.setPermission(d, octal("1777"))
    assert(mode(d) == Integer.parseInt("1777", 8))
  }
}
