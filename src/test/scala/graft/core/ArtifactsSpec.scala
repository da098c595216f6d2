package graft.core

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

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
