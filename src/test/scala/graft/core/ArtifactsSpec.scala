package graft.core

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Child-JVM entry for the exit-time deletion test: creates one store
  * directory, writes a file into it, and exits. */
object ArtifactsChild {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(Artifacts.dir("graft-child"), "f.txt"), "x")
}

/** The artifact store's contract: one memo per (application, corpus,
  * name), fresh directories under one root, parquet artifacts that survive
  * a storage drain, and the root deleted when the JVM exits. */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  test("memo builds once per (application, corpus, name)") {
    var builds = 0
    def get(d: String, name: String): Int =
      Artifacts.memo(spark, d, name) { builds += 1; builds }
    assert(get("/corpus-a", "spec-memo") === 1)
    assert(get("/corpus-a", "spec-memo") === 1)
    assert(builds === 1)
    assert(get("/corpus-b", "spec-memo") === 2, "a new corpus rebuilds")
    assert(get("/corpus-a", "spec-memo-2") === 3, "a new name rebuilds")
    assert(get("/corpus-a", "spec-memo") === 1)
    assert(builds === 3)
  }

  test("consecutive dir calls return distinct empty directories under one root") {
    val a = new File(Artifacts.dir("graft-spec"))
    val b = new File(Artifacts.dir("graft-spec"))
    assert(a != b)
    Seq(a, b).foreach { f =>
      assert(f.isDirectory)
      assert(f.list().isEmpty)
    }
    val root = a.getParentFile
    assert(b.getParentFile === root)
    assert(root.getParentFile.getCanonicalPath ===
      new File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    assert(root.getName.startsWith("graft"))
  }

  test("parquet serves the same rows after StorageHygiene.drainAll") {
    var builds = 0
    def get() = Artifacts.parquet(spark, "/corpus-p", "graft-spec-pq") {
      builds += 1
      spark.range(0L, 50L).toDF("k").withColumn("v", $"k" * 3).persist()
    }
    val before = get().orderBy("k").as[(Long, Long)].collect().toSeq
    StorageHygiene.drainAll(spark)
    val after = get().orderBy("k").as[(Long, Long)].collect().toSeq
    assert(builds === 1)
    assert(before === (0L until 50L).map(k => (k, k * 3)))
    assert(after === before)
  }

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("building a Tables frame, then building it again, launches no job") {
    val (frames, ran) = ranIn(Seq.fill(2)(tables.map(Tables.t(spark, sf, _))))
    assert(ran.jobs === 0, s"building the frames launched ${ran.jobs} job(s)")
    assert(frames.flatten.forall(_.schema.nonEmpty))
  }

  test("a resolved schema is the one Spark's own inference gives: every " +
      "table, a nanosecond timestamp under nanosAsLong, an artifact " +
      "directory with its _SUCCESS and .crc siblings") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    tables.foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(Tables.t(spark, sf, t).schema === spark.read.parquet(p).schema, t)
    }
    // a nanosecond timestamp, which Spark reads as LONG under nanosAsLong
    val nanos = new org.apache.hadoop.fs.Path(scratch("graft-nanos"), "ns.parquet")
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(nanos).withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      .append("ts", 1700000000123456789L))
    finally w.close()
    val ns = Artifacts.readParquet(spark, nanos.toString)
    assert(ns.schema === spark.read.parquet(nanos.toString).schema)
    assert(ns.schema("ts").dataType === org.apache.spark.sql.types.LongType)
    assert(ns.head().getLong(0) === 1700000000123456789L)
    val art = Artifacts.parquet(spark, "/corpus-schema", "graft-spec-schema") {
      spark.range(0L, 20L).select($"id".as("k"),
        ($"id" * 1.5).cast("decimal(12,2)").as("amt"),
        array($"id", $"id" + 1).as("arr"),
        struct($"id".cast("string").as("s"), lit(null).cast("double").as("d"))
          .as("nested"),
        timestamp_seconds($"id").as("ts")).repartition(3)
    }
    val dir = new File(new java.net.URI(art.inputFiles.head)).getParentFile
    val names = dir.list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(n =>
      n.startsWith(".") && n.endsWith(".crc")), names)
    assert(art.schema === spark.read.parquet(dir.getPath).schema)
    assert(art.count() === 20L)
  }

  test("the root is deleted when the JVM exits") {
    val tmp = scratch("graft-child-tmp")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-Xmx64m", "-XX:-UsePerfData",
        s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        ArtifactsChild.getClass.getName.stripSuffix("$"))
      .redirectErrorStream(true)
      .start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor(120, TimeUnit.SECONDS), "child JVM did not exit")
    assert(p.exitValue() === 0, out)
    assert(new File(tmp).list().toSeq === Nil)
  }
}
