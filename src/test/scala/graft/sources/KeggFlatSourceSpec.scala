package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The DSv2 kegg-flat source: record framing, split-boundary alignment
  * (result identical for any splitSize), column pruning, directory
  * listing, and agreement with the lineSep-based `Sinks.flatRecords`
  * parse path. */
class KeggFlatSourceSpec extends SparkSpec {

  private def writeFlat(dir: Path, name: String, records: Seq[String]): Unit = {
    val body = records.map(r => s"$r\n///\n").mkString
    Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
  }

  private def mkRecords(n: Int, seed: Int): Seq[String] =
    (0 until n).map { i =>
      val extra =
        if ((i + seed) % 3 == 0) s"\n            continuation $i line"
        else ""
      s"ENTRY       R$i\nNAME        name-$i value ${i * seed}$extra\nNATION      ${i % 7}"
    }

  test("reads records with offsets; agrees with the lineSep parse path") {
    val dir = Paths.get(scratch("kegg_dsv2"))
    val recs = mkRecords(20, seed = 1)
    writeFlat(dir, "a.flat", recs)
    val got = spark.read.format("kegg-flat")
      .option("path", dir.resolve("a.flat").toString).load()
    assert(got.columns.toSeq === Seq("offset", "file", "record"))
    val records = got.select("record").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq
    assert(records.sorted === recs.sorted)
    // offsets are strictly increasing and start at 0
    val offs = got.select("offset").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().toSeq.sorted
    assert(offs.head === 0L)
    assert(offs.distinct.size === recs.size)
    // same records as the built-in lineSep path
    val viaLineSep = Sinks.flatRecords(spark, dir.resolve("a.flat").toString)
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
    assert(records.sorted === viaLineSep.sorted)
  }

  test("split-boundary alignment: identical result for any splitSize") {
    val dir = Paths.get(scratch("kegg_dsv2_split"))
    // records of varying size so boundaries land mid-record, mid-line,
    // mid-delimiter, and exactly on frame starts
    val recs = mkRecords(60, seed = 7) ++ Seq(
      "ENTRY       X\nLONG        " + ("z" * 500),
      "ENTRY       tiny")
    writeFlat(dir, "b.flat", recs)
    val path = dir.resolve("b.flat").toString
    val baseline = spark.read.format("kegg-flat")
      .option("path", path).load()
      .select("offset", "record").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    for (split <- Seq(16, 64, 256, 1024, 1 << 20)) {
      val got = spark.read.format("kegg-flat")
        .option("path", path).option("splitSize", split.toString).load()
        .select("offset", "record").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === baseline, s"splitSize=$split diverged")
    }
  }

  test("frames with only whitespace emit no row, in pruned and unpruned mode") {
    val dir = Paths.get(scratch("kegg_dsv2_blank"))
    val body = "///\nENTRY  A\n///\n\n///\n   \n///\nENTRY  B\n///\n"
    Files.write(dir.resolve("c.flat"), body.getBytes(StandardCharsets.UTF_8))
    val path = dir.resolve("c.flat").toString
    val full = spark.read.format("kegg-flat").option("path", path).load()
    assert(full.count() === 2)
    // pruned scan (offset only) must agree on the row count
    assert(full.select("offset").count() === 2)
    val recs = full.select("record").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(recs === Set("ENTRY  A", "ENTRY  B"))
  }

  test("column pruning reaches the scan") {
    val dir = Paths.get(scratch("kegg_dsv2_prune"))
    writeFlat(dir, "d.flat", mkRecords(5, seed = 3))
    val df = spark.read.format("kegg-flat")
      .option("path", dir.resolve("d.flat").toString).load()
      .select("offset")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("offset"))
  }

  test("directory input lists files; hidden/_ files skipped") {
    val dir = Paths.get(scratch("kegg_dsv2_dir"))
    writeFlat(dir, "p1.flat", mkRecords(4, seed = 2))
    writeFlat(dir, "p2.flat", mkRecords(3, seed = 5))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".hidden"), "ENTRY  H\n///\n".getBytes)
    val got = spark.read.format("kegg-flat")
      .option("path", dir.toString).load()
    assert(got.count() === 7)
    assert(got.select("file").distinct().count() === 2)
  }

  test("file without trailing delimiter keeps its last record") {
    val dir = Paths.get(scratch("kegg_dsv2_tail"))
    val body = "ENTRY  A\n///\nENTRY  B\nNAME   tail"
    Files.write(dir.resolve("e.flat"), body.getBytes(StandardCharsets.UTF_8))
    val recs = spark.read.format("kegg-flat")
      .option("path", dir.resolve("e.flat").toString).load()
      .select("record").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(recs === Set("ENTRY  A", "ENTRY  B\nNAME   tail"))
  }

  test("feeds flatRecordFieldsKeyed with offset as the stable record id") {
    val dir = Paths.get(scratch("kegg_dsv2_parse"))
    writeFlat(dir, "f.flat", mkRecords(10, seed = 1))
    val src = spark.read.format("kegg-flat")
      .option("path", dir.resolve("f.flat").toString).load()
      .select(col("offset").as("rec_id"), col("record"))
    val parsed = Sinks.flatRecordFieldsKeyed(src)
    val entries = parsed.filter(col("section") === "ENTRY").count()
    assert(entries === 10)
    // continuation lines fold into their section value
    val withCont = parsed
      .filter(col("section") === "NAME" && col("value").contains("continuation"))
      .count()
    assert(withCont > 0)
  }

  test("offset-range pushdown prunes input partitions and is exact for " +
    "any split size") {
    val dir = Paths.get(scratch("kegg_dsv2_push"))
    writeFlat(dir, "g.flat", mkRecords(40, seed = 2))
    def scan(split: Int) = spark.read.format("kegg-flat")
      .option("path", dir.resolve("g.flat").toString)
      .option("splitSize", split.toString).load()
    val full = scan(256).collect()
    // pick a window around the middle record's offset
    val offsets = full.map(_.getLong(0)).sorted
    val (lo, hi) = (offsets(10), offsets(30))
    for (split <- Seq(64, 256, 4096)) {
      val filtered = scan(split)
        .filter(col("offset") >= lo && col("offset") <= hi)
      // exactness: pushdown result == post-hoc filter of the full scan
      val expect = full.filter(r => r.getLong(0) >= lo && r.getLong(0) <= hi)
        .map(_.getString(2)).toSet
      assert(filtered.collect().map(_.getString(2)).toSet === expect,
        s"splitSize=$split")
    }
    // pruning: at 64-byte splits a narrow window plans far fewer
    // partitions than the unfiltered scan
    val allParts = scan(64).rdd.getNumPartitions
    val winParts = scan(64)
      .filter(col("offset") >= lo && col("offset") <= lo + 100)
      .rdd.getNumPartitions
    assert(allParts > 10)
    assert(winParts < allParts / 2,
      s"expected pruning: $winParts vs $allParts")
    // pushed filters are consumed exactly: the scan's own description
    // carries the bounds
    val desc = scan(64).filter(col("offset") >= lo).queryExecution
      .executedPlan.toString
    assert(desc.contains(s"PushedOffsets=[$lo,"), desc)
  }

  test("aggregate pushdown: COUNT/MIN/MAX computed split-locally (one " +
    "partial row per split, no record strings), composing with pushed " +
    "filters; values equal the raw-scan aggregation") {
    val dir = Paths.get(scratch("kegg_dsv2_agg"))
    writeFlat(dir, "a.flat", mkRecords(40, seed = 2))
    def scan(split: Int) = spark.read.format("kegg-flat")
      .option("path", dir.resolve("a.flat").toString)
      .option("splitSize", split.toString).load()
    val full = scan(256).collect()
    val expectN = full.length.toLong
    val expectMin = full.map(_.getLong(0)).min
    val expectMax = full.map(_.getLong(0)).max
    val agg = scan(64).agg(count(lit(1)).as("n"),
      min(col("offset")).as("mn"), max(col("offset")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[KeggCountStar,KeggMinOffset," +
      "KeggMaxOffset]"), s"aggregates not pushed:\n$plan")
    // the scan's output is the 3 partial-agg columns — the raw `record`
    // column (and any full-width Aggregate over it) is gone from the scan
    assert(plan.contains("count_0") && !plan.contains("record"),
      s"scan still reads raw rows:\n$plan")
    val row = agg.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ===
      ((expectN, expectMin, expectMax)))
    // composes with an offset-range pushed filter
    val offsets = full.map(_.getLong(0)).sorted
    val (lo, hi) = (offsets(10), offsets(30))
    val fAgg = scan(64).filter(col("offset") >= lo && col("offset") <= hi)
      .agg(count(lit(1)).as("n"), min(col("offset")).as("mn"))
      .collect().head
    assert(fAgg.getLong(0) === 21L && fAgg.getLong(1) === lo)
    // an unsupported shape (group-by, or min over `file`) falls back to
    // the raw scan — correct values either way
    val grouped = scan(64).groupBy(col("file"))
      .agg(count(lit(1)).as("n")).collect()
    assert(grouped.head.getLong(1) === expectN)
  }

  test("DSv2 write: task-tmp files publish as part-N.flat on driver " +
    "commit; overwrite truncates, append accumulates; round-trip through " +
    "the splittable reader equals the input; wrong schema rejected") {
    import spark.implicits._
    val dir = scratch("kegg_dsv2_write")
    val recs = mkRecords(25, seed = 5)
    recs.toDF("record").repartition(3)
      .write.format("kegg-flat").option("path", dir)
      .mode("overwrite").save()
    // hidden entries are Hadoop local-FS .crc sidecars — the reader's
    // directory listing skips dotfiles, so only part-N.flat are visible
    val listed = new java.io.File(dir).listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith("."))
    assert(listed.nonEmpty && listed.forall(_.endsWith(".flat")),
      s"unexpected output listing: $listed")
    assert(!listed.exists(_.endsWith(".tmp")), "tmp files leaked past commit")
    def readBack(split: Int) = spark.read.format("kegg-flat")
      .option("path", dir).option("splitSize", split.toString).load()
    for (split <- Seq(64, 100000))
      assert(readBack(split).select("record").as[String].collect().sorted.toSeq
        === recs.sorted, s"round-trip mismatch at splitSize=$split")
    // overwrite truncates prior .flat files
    Seq("ENTRY       only-one").toDF("record")
      .write.format("kegg-flat").option("path", dir)
      .mode("overwrite").save()
    assert(readBack(4096).count() === 1)
    // append accumulates
    Seq("ENTRY       second").toDF("record")
      .write.format("kegg-flat").option("path", dir)
      .mode("append").save()
    assert(readBack(4096).select("record").as[String].collect().sorted.toSeq
      === Seq("ENTRY       only-one", "ENTRY       second"))
    // only (record STRING) is writable — offset/file are read-side derived
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("offset", "record")
        .write.format("kegg-flat").option("path", dir)
        .mode("append").save()
    }
    assert(ex.getMessage.contains("kegg-flat write expects"), ex.getMessage)
  }

  test("runtime filtering (DPP analog): a file-key join prunes whole files " +
      "before any task launches, observable via the plannedSplits metric") {
    val dir = Paths.get(scratch("kegg_dsv2_runtime"))
    (0 until 4).foreach(i => writeFlat(dir, s"f$i.flat", mkRecords(6, seed = i)))
    def load() = spark.read.format("kegg-flat")
      .option("path", dir.toString).option("splitSize", "64").load()
    // AQE off so the physical tree is a plain plan we can walk for the
    // BatchScan node; v2 runtime filtering works in both modes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // selective dim: the files whose records mention "value 10" — with
      // seed i the NAME line carries i*seed multiples, only some files hit
      val dim = load().filter(col("record").contains("value 10\n") ||
          col("record").endsWith("value 10"))
        .select(col("file").as("f")).distinct()
      val fact = load()
      val joined = fact.join(broadcast(dim), fact("file") === col("f"))
        .select(col("record"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("RuntimeFilters: ["),
        "no runtime filter attached to the scan:\n" + plan.toString.take(1500))
      val rows = joined.collect()
      // ground truth: re-read, filter by the qualifying files, no runtime path
      val wantFiles = load().filter(col("record").contains("value 10\n") ||
          col("record").endsWith("value 10"))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      assert(wantFiles.nonEmpty && wantFiles.size < 4, s"fixture degenerate: $wantFiles")
      val want = load().collect().filter(r => wantFiles(r.getString(1))).map(_.getString(2))
      assert(rows.map(_.getString(0)).sorted.toSeq == want.sorted.toSeq)
      // pruning proof: the fact scan planned strictly fewer splits than the
      // unfiltered directory (4 files × multiple 64-byte splits each)
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.runtimeFilters.nonEmpty => b
      }
      assert(scans.size == 1, s"expected one runtime-filtered scan, got ${scans.size}")
      val plannedMetric = scans.head.metrics("plannedSplits").value
      val allSplits = load().rdd.getNumPartitions
      assert(plannedMetric > 0 && plannedMetric < allSplits,
        s"runtime pruning did not shrink planning: $plannedMetric vs $allSplits")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("file-equality pushdown plans only the named file's splits") {
    val dir = Paths.get(scratch("kegg_dsv2_pushfile"))
    writeFlat(dir, "a.flat", mkRecords(5, seed = 1))
    writeFlat(dir, "b.flat", mkRecords(5, seed = 3))
    val df = spark.read.format("kegg-flat")
      .option("path", dir.toString).option("splitSize", "64").load()
    val aFile = df.select("file").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().min // a.flat's URI
    val only = df.filter(col("file") === aFile)
    assert(only.select("record").collect().length === 5)
    assert(only.rdd.getNumPartitions < df.rdd.getNumPartitions)
  }

  test("limit pushdown reaches the scan (PushedLimit), yields exactly k " +
    "rows, and an over-sized limit returns everything") {
    val dir = Paths.get(scratch("kegg_limit"))
    writeFlat(dir, "a.flat", mkRecords(20, seed = 1))
    val df = spark.read.format("kegg-flat")
      .option("path", dir.toString).option("splitSize", "128").load()
    val limited = df.limit(7)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit=7"), plan.take(800))
    assert(limited.count() === 7)
    // rows come from the same record universe (prefix of some split walk)
    val all = df.select("record").collect().map(_.getString(0)).toSet
    assert(limited.select("record").collect()
      .map(_.getString(0)).forall(all))
    // limit above the record count: partial pushdown must not lose rows
    assert(df.limit(1000).count() === 20)
    // and an un-limited scan stays unannotated
    assert(!df.queryExecution.executedPlan.toString.contains("PushedLimit"))
  }
}
