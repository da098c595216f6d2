package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("chunkedCsv writes header CSVs capped at maxRecordsPerFile with escaping") {
    val dir = scratch("graft-csv")
    val df = Seq(
      (1L, "it's|weird", Seq("x", "y")),
      (2L, "plain", Seq("z")),
      (3L, "c", Seq.empty[String]),
      (4L, "d", Seq("w"))).toDF("id", "name", "tags")
    Sinks.chunkedCsv(df, dir, maxRecordsPerFile = 2)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.nonEmpty)
    // each part ≤ 2 data rows (+1 header)
    files.foreach { f =>
      val lines = scala.io.Source.fromFile(f).getLines().toList
      assert(lines.head.startsWith("id"))
      assert(lines.size <= 3)
    }
    val back = spark.read.option("header", "true").csv(dir)
      .as[(String, String, String)].collect()
      .map { case (i, n, t) => i -> ((n, t)) }.toMap
    assert(back("1")._1 === "it^s,weird") // F4: ' → ^, | → ,
    assert(back("1")._2 === "x|y")        // arrays pipe-joined at the boundary
  }

  test("writePartitioned: directory layout + partition pruning in the plan") {
    import org.apache.spark.sql.functions._
    val dir = scratch("graft-part")
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("ship_year", year(col("l_shipdate")))
    Sinks.writePartitioned(li, dir, Seq("ship_year"))
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("ship_year=1995")))
    val pruned = spark.read.parquet(dir).filter(col("ship_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("ship_year"), s"no partition pruning in:\n$plan")
    assert(pruned.count() > 0)
    val all = spark.read.parquet(dir).count()
    assert(pruned.count() < all)
  }

  test("ORC round trip: content identical, predicate pushed to the ORC scan") {
    import org.apache.spark.sql.functions._
    val dir = scratch("graft-orc")
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
    val filtered = back.filter(col("v") === 3)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("v"),
      s"ORC filter not pushed:\n$plan")
    assert(filtered.count() === df.filter(col("v") === 3).count())
  }

  test("upsertPartitioned: update wins, tombstone deletes, insert creates " +
    "a new partition, untouched partitions are NOT rewritten") {
    import org.apache.spark.sql.functions._
    val baseDir = scratch("graft-upsert-base")
    val stage = scratch("graft-upsert-stage")
    val base = Seq(
      (1L, "one", "A", 0L, false),
      (2L, "two", "A", 0L, false),
      (3L, "three", "B", 0L, false),
      (4L, "four", "B", 0L, false),
      (5L, "five", "C", 0L, false)
    ).toDF("k", "payload", "p", "version", "del")
    base.write.mode("overwrite").partitionBy("p").parquet(baseDir)
    def partFiles(p: String) = {
      val d = new java.io.File(s"$baseDir/p=$p")
      if (!d.exists()) Vector.empty[(String, Long, Long)]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1).toVector
    }
    val bBefore = partFiles("B")
    val cBefore = partFiles("C")
    val updates = Seq(
      (1L, "one-v1", "A", 1L, false),  // update
      (2L, "two", "A", 1L, true),      // tombstone
      (10L, "ten", "D", 1L, false)     // insert into a NEW partition
    ).toDF("k", "payload", "p", "version", "del")
    Sinks.upsertPartitioned(spark, baseDir, updates,
      partCol = "p", keyCols = Seq("k"), versionCol = "version",
      deleteCol = "del", stagingDir = stage)
    val fin = spark.read.parquet(baseDir)
      .select("k", "payload", "p").as[(Long, String, String)].collect().toSet
    assert(fin === Set(
      (1L, "one-v1", "A"),
      (3L, "three", "B"), (4L, "four", "B"),
      (5L, "five", "C"),
      (10L, "ten", "D")))
    // incrementality: partitions B and C were neither rewritten nor touched
    assert(partFiles("B") === bBefore)
    assert(partFiles("C") === cBefore)
  }

  test("zValue interleaves bits (known small cases)") {
    import org.apache.spark.sql.functions.{col, lit}
    val got = spark.range(1)
      .select(
        Sinks.zValue(lit(0L), lit(0L)).as("z00"),
        Sinks.zValue(lit(1L), lit(0L)).as("z10"),
        Sinks.zValue(lit(0L), lit(1L)).as("z01"),
        Sinks.zValue(lit(3L), lit(5L)).as("z35"))
      .as[(Long, Long, Long, Long)].head()
    // z(3,5): a bits 11 at even positions -> 0b000101; b bits 101 at odd
    // positions -> 0b100010; OR = 0b100111 = 39
    assert(got === ((0L, 1L, 2L, 39L)))
  }

  test("flatRecords + flatRecordFields parse ///-delimited keyword records") {
    val path = java.nio.file.Paths.get(scratch("graft-flat"), "records.txt")
    Files.writeString(path,
      """ENTRY       H00001
        |NAME        Some disease
        |            continued name
        |DBLINKS     ICD-10: A00
        |///
        |ENTRY       H00002
        |NAME        Other
        |///
        |""".stripMargin)
    val recs = Sinks.flatRecords(spark, path.toString)
    assert(recs.count() === 2)
    val fields = Sinks.flatRecordFields(recs)
      .select("section", "value").as[(String, String)].collect().toSet
    assert(fields.contains(("ENTRY", "H00001")))
    assert(fields.contains(("NAME", "Some disease continued name")))
    assert(fields.contains(("DBLINKS", "ICD-10: A00")))
    assert(fields.contains(("ENTRY", "H00002")))
  }

  test("writeBlobs + binaryFile read round-trips exact bytes, one file " +
    "per row; the source SKIPS zero-byte files (documented contract)") {
    import org.apache.spark.sql.functions._
    val dir = scratch("graft_blob_rt")
    val docs = Seq((1L, "alpha"), (2L, "Ünïcode ✓"), (3L, ""))
      .toDF("id", "text")
    Sinks.writeBlobs(docs.select($"id", encode($"text", "UTF-8").as("p")),
      "id", "p", dir)
    assert(Files.size(java.nio.file.Paths.get(dir, "3.bin")) === 0L)
    val got = spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long")
          .as("id"),
        col("content").cast("string").as("text"),
        col("length"))
      .as[(Long, String, Long)].collect()
      .map { case (i, t, l) => i -> ((t, l)) }.toMap
    assert(got(1L) === (("alpha", 5L)))
    assert(got(2L)._1 === "Ünïcode ✓")
    assert(got(2L)._2 > 9L) // multi-byte codepoints: bytes > chars
    // the empty blob was written but binaryFile does not list 0-byte
    // files — callers must pre-filter empty payloads (sBinaryFiles does)
    assert(!got.contains(3L))
  }

  test("mergeAggState: refreshed state equals the full recompute; " +
    "delta-only and state-only keys both survive") {
    import org.apache.spark.sql.functions._
    val hist = Seq((1L, 10L, 2L), (2L, 5L, 1L)).toDF("k", "s", "n")
    val batch = Seq((2L, 7L, 3L), (9L, 1L, 1L)).toDF("k", "s", "n")
    val got = Sinks.mergeAggState(hist, batch, Seq("k"), Seq("s", "n"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, s0, n) => k -> ((s0, n)) }.toMap
    assert(got === Map(1L -> ((10L, 2L)), 2L -> ((12L, 4L)), 9L -> ((1L, 1L))))
  }
}
