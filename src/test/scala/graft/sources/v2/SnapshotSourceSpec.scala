package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.sources.SnapshotTable

/** The graft-snapshot Spark data source: manifest-backed FileIndex,
  * automatic stats/partition file skipping from pushed filters, time
  * travel via versionAsOf, soundness of the pruning extractor. */
class SnapshotSourceSpec extends SparkSpec {
  import spark.implicits._

  private def clusteredFixture(): String = {
    val dir = scratch("graft-snapsrc")
    val rows = (0L until 1000L).map(k =>
      (k, s"n$k", k.toDouble, "p" + (k % 4)))
      .toDF("k", "name", "price", "part")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 8)
    dir
  }

  private def load(dir: String): DataFrame =
    spark.read.format("graft-snapshot").load(dir)

  test("format load equals the Scala read; versionAsOf equals readAt; " +
      "the plan lists through SnapshotFileIndex, never a directory walk") {
    val dir = clusteredFixture()
    SnapshotTable.deleteWhere(spark, dir, col("k") < 100, "part",
      pruneRange = Some(("k", 0L, 99L)))                            // v2
    def rows(df: DataFrame) =
      df.select("k", "name").as[(Long, String)].collect().toSet
    assert(rows(load(dir)) == rows(SnapshotTable.read(spark, dir)))
    val v1 = spark.read.format("graft-snapshot")
      .option("versionAsOf", "1").load(dir)
    assert(rows(v1) == rows(SnapshotTable.readAt(spark, dir, 1L)))
    assert(v1.count() == 1000 && load(dir).count() == 900)
    val plan = load(dir).queryExecution.executedPlan.toString
    assert(plan.contains("SnapshotFileIndex"),
      s"scan must list through the manifest index:\n${plan.take(800)}")
  }

  test("pushed range filters on a statted column prune files from the " +
      "manifest alone; the filtered result is exact") {
    val dir = clusteredFixture()
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val k = AttributeReference("k", LongType)()
    def band(lo: Long, hi: Long): Seq[Expression] =
      Seq(GreaterThanOrEqual(k, Literal(lo)), LessThanOrEqual(k, Literal(hi)))
    val total = idx.prune(Nil).size
    val kept = idx.prune(band(100L, 199L)).size
    assert(total >= 8 && kept < total,
      s"band [100,199] must skip files ($kept/$total)")
    assert(idx.prune(band(5000L, 6000L)).isEmpty, "all-miss band skips all")
    // end-to-end: the filtered format read equals the ground truth
    val got = load(dir).filter(col("k").between(100L, 199L))
      .select("k").as[Long].collect().toSet
    assert(got == (100L until 200L).toSet)
    // equality pins the point form
    assert(idx.prune(Seq(EqualTo(k, Literal(150L)))).size < total)
    assert(load(dir).filter(col("k") === 150L).count() == 1)
  }

  test("Z-ordered table: conjuncts on BOTH stat columns prune " +
      "multiplicatively through the format read") {
    val dir = scratch("graft-snapsrc-z")
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i / 64).toLong, (i % 64).toLong, "all"))
      .toDF("id", "k1", "k2", "p")
    SnapshotTable.overwriteZordered(spark, dir, rows, "p",
      statsCols = Seq("k1", "k2"), rangeFiles = 16)
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val (k1, k2) = (AttributeReference("k1", LongType)(),
      AttributeReference("k2", LongType)())
    val total = idx.prune(Nil).size
    val k1Only = idx.prune(Seq(LessThanOrEqual(k1, Literal(7L)))).size
    val both = idx.prune(Seq(LessThanOrEqual(k1, Literal(7L)),
      LessThanOrEqual(k2, Literal(7L)))).size
    assert(k1Only < total && both <= k1Only)
    val got = load(dir)
      .filter(col("k1").between(0, 7) && col("k2").between(0, 7))
      .select("id").as[Long].collect().toSet
    val want = rows.filter(col("k1").between(0, 7) && col("k2").between(0, 7))
      .select("id").as[Long].collect().toSet
    assert(got == want)
  }

  test("partition-column equality prunes by manifest entry; unprovable " +
      "shapes prune nothing (soundness default)") {
    val dir = clusteredFixture()
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val part = AttributeReference("part",
      org.apache.spark.sql.types.StringType)()
    val total = idx.prune(Nil).size
    val one = idx.prune(Seq(EqualTo(part,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("p1"),
        org.apache.spark.sql.types.StringType)))).size
    assert(one < total, s"part = 'p1' must prune entries ($one/$total)")
    // a filter the extractor can't prove keeps every file
    val name = AttributeReference("name",
      org.apache.spark.sql.types.StringType)()
    assert(idx.prune(Seq(EqualTo(name,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("n1"),
        org.apache.spark.sql.types.StringType)))).size == total)
    // end-to-end partition read
    assert(load(dir).filter(col("part") === "p1").count() == 250)
  }

  test("ZERO-RPC listing: every FileStatus is synthesized from the " +
      "manifest's bytes:rows field — no per-file getFileStatus; legacy " +
      "manifests without the field fall back (counted)") {
    val dir = clusteredFixture()
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val total = idx.prune(Nil).size
    assert(idx.sizeInBytes > 0L) // forces status construction
    assert(idx.fallbackStatCalls == 0,
      s"a current-writer table paid ${idx.fallbackStatCalls} getFileStatus " +
        "RPCs — the manifest must carry every length")
    // the synthesized sizes must be the REAL lengths (sizeInBytes feeds
    // join strategy): compare against the filesystem's answer
    val fsSum = SnapshotTable.entries(dir).map { case (_, rel) =>
      new java.io.File(s"$dir/data/$rel").length
    }.sum
    assert(idx.sizeInBytes == fsSum)
    // strip the bytes:rows field → a legacy manifest: reads still work,
    // each entry paying exactly one fallback stat call
    val cur = java.nio.file.Paths.get(dir, "_current")
    val mf = java.nio.file.Paths.get(dir,
      new String(java.nio.file.Files.readAllBytes(cur)).trim)
    val legacy = new String(java.nio.file.Files.readAllBytes(mf)).split("\n")
      .map { l =>
        if (l.startsWith("#")) l
        else l.split('\t').take(3).mkString("\t")
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mf, legacy.getBytes)
    // the raw rewrite bypassed Hadoop's ChecksumFileSystem — drop the
    // stale .crc sidecar or every read of the edited manifest fails
    java.nio.file.Files.deleteIfExists(
      mf.getParent.resolve("." + mf.getFileName.toString + ".crc"))
    val idx2 = new SnapshotFileIndex(spark, dir, 1L)
    assert(idx2.sizeInBytes == fsSum)
    assert(idx2.fallbackStatCalls == total,
      "legacy entries must fall back once each")
    assert(load(dir).count() == 1000)
  }

  test("manifest-recorded sizeInBytes drives join strategy: a small " +
      "snapshot table auto-broadcasts against a large probe side") {
    val dir = clusteredFixture()
    val small = load(dir).select(col("k"), col("name"))
    val big = spark.range(0L, 200000L).toDF("k")
      .withColumn("payload", col("k") * 2)
    val plan = big.join(small, Seq("k")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "a KB-sized snapshot table must broadcast — sizeInBytes from the " +
        s"manifest is the planner's input:\n${plan.take(600)}")
  }

  test("STRING stats prune files for range/equality predicates on a " +
      "string-statted column (the month >= '…' class); results exact") {
    val dir = scratch("graft-snapsrc-str")
    val rows = (0L until 1200L).map(k =>
      (k, f"2024-${k % 12 + 1}%02d", "p" + (k % 2)))
      .toDF("k", "month", "part")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("month"), rangeFiles = 12)
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val m = AttributeReference("month",
      org.apache.spark.sql.types.StringType)()
    def s(v: String) =
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
        org.apache.spark.sql.types.StringType)
    val total = idx.prune(Nil).size
    val kept = idx.prune(Seq(GreaterThanOrEqual(m, s("2024-10")))).size
    assert(kept < total, s"month >= '2024-10' must skip files ($kept/$total)")
    assert(idx.prune(Seq(GreaterThanOrEqual(m, s("2025-01")))).isEmpty,
      "all-miss string band skips every file")
    val eq = idx.prune(Seq(EqualTo(m, s("2024-03")))).size
    assert(eq < total)
    // end-to-end: pruned format reads equal ground truth exactly
    val got = load(dir).filter(col("month") >= "2024-10")
      .select("k").as[Long].collect().toSet
    val want = rows.filter(col("month") >= "2024-10")
      .select("k").as[Long].collect().toSet
    assert(got == want)
    assert(load(dir).filter(col("month") === "2024-03").count() == 100)
  }

  test("escaped partition values (':' etc.) prune and read correctly — " +
      "manifest speaks raw values, not directory encoding") {
    val dir = scratch("graft-snapsrc-esc")
    val rows = (0L until 300L).map(k =>
      (k, s"n$k", "t:" + (k % 3), 0L, false)) // ':' Hive-escapes to %3A
      .toDF("k", "name", "part", "version", "del")
    SnapshotTable.overwriteClustered(spark, dir, rows, "part",
      statsCols = Seq("k"), rangeFiles = 3)
    // the manifest must record the RAW value
    assert(SnapshotTable.entries(dir).map(_._1).toSet == Set("t:0", "t:1", "t:2"))
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val part = AttributeReference("part",
      org.apache.spark.sql.types.StringType)()
    val total = idx.prune(Nil).size
    val one = idx.prune(Seq(EqualTo(part,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("t:1"),
        org.apache.spark.sql.types.StringType))))
    assert(one.nonEmpty && one.size < total,
      "equality on an escaped-char partition value must keep ITS files " +
        "and only them — empty means the silent wrong-result bug is back")
    assert(load(dir).filter(col("part") === "t:1").count() == 100)
    // the Scala API sides of the same contract
    assert(SnapshotTable.readPartitions(spark, dir, Set("t:1")).count() == 100)
    val up = Seq((0L, "N0", "t:0", 1L, false))
      .toDF("k", "name", "part", "version", "del")
    SnapshotTable.upsert(spark, dir,
      up, "part", Seq("k"), "version", "del")
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() == 300, "upsert on an escaped partition must " +
      "MERGE, not duplicate the partition")
    assert(after.filter(col("k") === 0L).select("name")
      .as[String].collect().toSeq == Seq("N0"))
  }

  test("pre-schema-header tables refuse the format read with a pointed " +
      "error; a missing versionAsOf manifest fails loudly") {
    val dir = scratch("graft-snapsrc-old")
    val rows = Seq((1L, "a", "p1")).toDF("k", "name", "p")
    val staged = SnapshotTable.stageBatch(rows, dir, "p",
      SnapshotTable.newBatchTag(1L))
    SnapshotTable.casCommit(dir, 0L, staged) // no schema header
    val ex = intercept[IllegalArgumentException] { load(dir).count() }
    assert(ex.getMessage.contains("schema header"))
    val dir2 = clusteredFixture()
    val ex2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshot")
        .option("versionAsOf", "7").load(dir2).count()
    }
    assert(ex2.getMessage.contains("unreadable"))
  }

  test("DOUBLE stats prune format reads from pushed filters; the " +
      "no-ceiling probe is NaN (Spark's total-order top), so an all-NaN " +
      "stat can never be pruned by a lower-bounded predicate") {
    val dir = scratch("graft-snapsrc-dbl")
    val rows = (0L until 1000L).map(k => (k, k.toDouble / 2.0, "all"))
      .toDF("k", "score", "p")
    SnapshotTable.overwriteClustered(spark, dir, rows, "p",
      statsCols = Seq("score"), rangeFiles = 10)
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val score = AttributeReference("score",
      org.apache.spark.sql.types.DoubleType)()
    val total = idx.prune(Nil).size
    val kept = idx.prune(Seq(
      GreaterThanOrEqual(score, Literal(400.0)))).size
    assert(total >= 8 && kept < total,
      s"score >= 400 must skip files ($kept/$total)")
    // end-to-end: the pushed filter's result is exact
    val got = load(dir).filter(col("score") >= 400.0).count()
    assert(got == rows.filter(col("score") >= 400.0).count())
    // a two-sided band prunes from both ends: tighter than the same
    // lower bound alone
    val lowerOnly = idx.prune(Seq(
      GreaterThanOrEqual(score, Literal(100.0)))).size
    val band = idx.prune(Seq(GreaterThanOrEqual(score, Literal(100.0)),
      LessThanOrEqual(score, Literal(200.0)))).size
    assert(band < lowerOnly,
      s"the ceiling must prune further ($band vs $lowerOnly)")
    // NaN-literal predicates are never used for pruning (x = NaN is
    // TRUE for NaN rows in Spark; the extractor declines instead)
    assert(idx.prune(Seq(EqualTo(score, Literal(Double.NaN)))).size == total)
  }

  test("DECIMAL stats prune format reads — including the realistic " +
      "cast-wrapped predicate shape (literal precision promotes the " +
      "column through a widening cast); narrowing casts decline") {
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    import org.apache.spark.sql.catalyst.expressions.{Cast => CCast}
    val dir = scratch("graft-snapsrc-dec")
    val rows = (0L until 1000L).map(k => (k, "all")).toDF("k", "p")
      .withColumn("amount", (col("k") * 10).cast(DecimalType(12, 2)))
    SnapshotTable.overwriteClustered(spark, dir, rows, "p",
      statsCols = Seq("amount"), rangeFiles = 10)
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val amount = AttributeReference("amount", DecimalType(12, 2))()
    val total = idx.prune(Nil).size
    def decLit(s: String, p: Int, sc: Int) =
      Literal(Decimal(new java.math.BigDecimal(s)), DecimalType(p, sc))
    // plain attribute, same-type literal
    val kept = idx.prune(Seq(
      GreaterThanOrEqual(amount, decLit("5000.00", 12, 2)))).size
    assert(total >= 8 && kept < total,
      s"amount >= 5000 must skip files ($kept/$total)")
    // cast-wrapped: Spark promotes decimal(12,2) vs a decimal(13,2)
    // literal by casting the COLUMN — a value-preserving widening the
    // extractor must see through
    val keptCast = idx.prune(Seq(GreaterThanOrEqual(
      CCast(amount, DecimalType(13, 2)), decLit("5000.00", 13, 2)))).size
    assert(keptCast == kept, "the widening cast must prune identically")
    // a NARROWING cast is not value-preserving: decline (prune nothing)
    val keptNarrow = idx.prune(Seq(GreaterThanOrEqual(
      CCast(amount, DecimalType(6, 1)), decLit("5000.0", 6, 1)))).size
    assert(keptNarrow == total, "narrowing casts must not prune")
    // end-to-end: a SQL-shaped predicate (parser makes 5000.00 a
    // decimal(6,2) literal, promoting the column) returns exact rows
    val got = load(dir).filter("amount >= 5000.00").count()
    assert(got == rows.filter(col("amount") >= 5000).count())
  }

  // --- writer path (round-10 missing #2) + catalog identifiers (#4) ---

  test("df.write.format(graft-snapshot): create routes through the " +
      "clustered stats-carrying commit, append is a transactional " +
      "INSERT, schema mismatch rejects, modes behave") {
    val dir = scratch("graft-snapsrc-w")
    val rows = (0L until 200L).map(k => (k, s"n$k", "p" + (k % 2)))
      .toDF("k", "name", "part")
    // a create in any mode needs partCol
    val exPc = intercept[IllegalArgumentException] {
      rows.write.format("graft-snapshot").mode("overwrite").save(dir)
    }
    assert(exPc.getMessage.contains("partCol"))
    rows.write.format("graft-snapshot").mode("overwrite")
      .option("partCol", "part").option("statsCols", "k")
      .option("rangeFiles", "8").save(dir)
    assert(SnapshotTable.currentVersion(dir) == 1L)
    // the writer-created table carries stats (clustered path) and the
    // schema header — it is a first-class snapshot table
    assert(SnapshotTable.typedStatsAt(dir, 1L).nonEmpty)
    assert(load(dir).count() == 200L)
    // append defaults to the recorded partCol and CAS-commits v2
    Seq((900L, "x", "p0")).toDF("k", "name", "part")
      .write.format("graft-snapshot").mode("append").save(dir)
    assert(SnapshotTable.currentVersion(dir) == 2L &&
      load(dir).count() == 201L)
    // an append is not schema evolution: wrong columns reject loudly
    val exSch = intercept[IllegalArgumentException] {
      Seq((1L, "y")).toDF("k", "name")
        .write.format("graft-snapshot").mode("append").save(dir)
    }
    assert(exSch.getMessage.toLowerCase.contains("missing"))
    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[IllegalStateException] {
      rows.write.format("graft-snapshot").mode("errorifexists").save(dir)
    }
    rows.write.format("graft-snapshot").mode("ignore").save(dir)
    assert(SnapshotTable.currentVersion(dir) == 2L, "ignore must not commit")
  }

  test("concurrent writer-path appends serialize through the CAS retry " +
      "loop — both land, no lost update") {
    val dir = scratch("graft-snapsrc-race")
    (0L until 50L).map(k => (k, "p" + (k % 2))).toDF("k", "part")
      .write.format("graft-snapshot").mode("overwrite")
      .option("partCol", "part").save(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (1 to 2).map { i =>
      Future {
        Seq((1000L + i, "p" + i)).toDF("k", "part")
          .write.format("graft-snapshot").mode("append").save(dir)
      }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    assert(SnapshotTable.currentVersion(dir) == 3L,
      "two appends must commit two versions")
    assert(load(dir).count() == 52L, "no lost update under concurrency")
  }

  test("saveAsTable registers a snapshot table by IDENTIFIER and " +
      "spark.table / SQL resolve it back through the provider") {
    val dir = scratch("graft-snapsrc-cat")
    val rows = (0L until 120L).map(k => (k, k.toDouble, "p" + (k % 3)))
      .toDF("k", "score", "part")
    rows.write.format("graft-snapshot").mode("overwrite")
      .option("partCol", "part").option("path", dir)
      .saveAsTable("snap_cat_t")
    try {
      // identifier reads resolve through RelationProvider → the same
      // manifest-backed FileIndex as a path read
      val byName = spark.table("snap_cat_t")
      assert(byName.count() == 120L)
      assert(byName.queryExecution.executedPlan.toString
        .contains("SnapshotFileIndex"))
      assert(spark.sql(
        "SELECT count(*) c FROM snap_cat_t WHERE part = 'p1'")
        .head().getLong(0) == 40L)
      // writes by identifier keep the transactional path: the table
      // advances a VERSION, visible to name-based readers immediately
      Seq((500L, 5.0, "p0")).toDF("k", "score", "part")
        .write.format("graft-snapshot").mode("append")
        .option("path", dir).saveAsTable("snap_cat_t")
      assert(SnapshotTable.currentVersion(dir) == 2L)
      assert(spark.table("snap_cat_t").count() == 121L)
      // plain SQL DDL registers the same provider-backed table — the
      // route a BI tool / vanilla-Spark deployment script takes
      spark.sql("CREATE TABLE snap_cat_ddl USING `graft-snapshot` " +
        s"OPTIONS (path '$dir')")
      assert(spark.sql("SELECT count(*) c FROM snap_cat_ddl")
        .head().getLong(0) == 121L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS snap_cat_t")
      spark.sql("DROP TABLE IF EXISTS snap_cat_ddl")
    }
  }
}
