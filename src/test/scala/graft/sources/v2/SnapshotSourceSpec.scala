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

  test("one pruning kernel, fixed-seed property: for the same bounds " +
      "prune keeps exactly the files the readRange*/readRanges reads " +
      "keep, and it keeps every file holding a row the predicate matches") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.{And, Cast, GreaterThan, In, LessThan}
    import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import SnapshotTable.ColStat.utf8Cmp
    def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i =>
        gen.apply(Gen.Parameters.default, Seed(seed + i)))
    val dec12 = DecimalType(12, 2)
    // value pools, each in the order its stats are recorded under; the
    // strings hold supplementary-plane characters, which sort ABOVE
    // U+FFFF in UTF-8 but below it in UTF-16
    val offsets = Seq(-7L, 0L, 3L, 3L, 9L)
    val strs = Seq("", "A", "a", "ab", "b", "zz", "\u00e9", "\uffff",
      "\ud835\udd38", "\ud83d\ude00").sortWith(utf8Cmp(_, _) < 0)
    val dbls = Seq(Double.NegativeInfinity, -1e300, -2.5, -0.0, 0.0, 1.5,
      3.0, 1e300, Double.PositiveInfinity)
    val decs = Seq("-999.99", "-1.00", "0.00", "0.50", "2.50", "10.00",
      "9999999999.99").map(new java.math.BigDecimal(_))
    // group g draws from a narrow window of each pool, so the files of a
    // table range-clustered on l carry narrow bounds on every column;
    // group 5 has no s value (no s stat), groups 3/4 hold only -0.0/0.0
    // in d, group 7 only NaN (an all-NaN file)
    def window[A](pool: Seq[A], g: Int): Seq[A] = {
      val at = g * (pool.size - 3) / 7
      pool.slice(at, at + 3)
    }
    def maybe[A](gen: Gen[A]): Gen[Option[A]] =
      Gen.frequency(1 -> Gen.const(None), 6 -> gen.map(Some(_)))
    val row = for {
      g <- Gen.choose(0, 7)
      l <- maybe(Gen.oneOf(offsets).map(g * 1000L + _))
      s <- maybe(Gen.oneOf(window(strs, g)))
      d <- maybe(Gen.oneOf(window(dbls, g)))
      c <- maybe(Gen.oneOf(window(decs, g)))
    } yield (l, if (g == 5) None else s, d.map(x => g match {
        case 3 => -0.0
        case 4 => 0.0
        case 7 => Double.NaN
        case _ => x
      }), c, "p" + (g % 2))
    val rows = samples(row, 400, 1000L) ++ Seq(
      (Some(Long.MinValue), Some("a"), Some(-2.5), Some(decs(1)), "p0"),
      (Some(Long.MaxValue), Some("zz"), Some(Double.NaN), Some(decs(6)), "p1"))
    val dir = scratch("graft-snapsrc-prop")
    SnapshotTable.overwriteClustered(spark, dir,
      rows.toDF("l", "s", "d", "c", "part").withColumn("c", col("c").cast(dec12)),
      "part", statsCols = Seq("l", "s", "d", "c"), rangeFiles = 8)
    val idx = new SnapshotFileIndex(spark, dir, 1L)
    val all = SnapshotTable.entries(dir).map(_._2).toSet
    assert(all.size >= 8, s"the table must span many files (${all.size})")

    // predicates: conjunctions of comparisons `column op value`, written
    // with the literal on either side; on l the literal is sometimes an
    // Int, on c the column sometimes sits in a widening cast, on the
    // partition column the comparison is `=` or an IN
    final case class Cmp(c: String, op: String, v: Any, litLeft: Boolean,
        alt: Boolean)
    val cmp = for {
      c <- Gen.oneOf("l", "l", "s", "d", "c", "part")
      op <- if (c == "part") Gen.const("=")
        else Gen.oneOf("=", "<", "<=", ">", ">=")
      v <- (c match {
        case "l" => Gen.oneOf(
          Gen.zip(Gen.choose(0, 7), Gen.oneOf(offsets)).map {
            case (g, o) => g * 1000L + o
          },
          Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 2500L))
        case "s" => Gen.oneOf(strs ++ Seq("m", "\ud83d\ude01"))
        case "d" => Gen.oneOf(dbls ++ Seq(Double.NaN, 2.0))
        case "c" => Gen.oneOf(decs :+ new java.math.BigDecimal("1.25"))
        case _ => Gen.oneOf("p0", "p1", "p9")
      }): Gen[Any]
      litLeft <- Gen.oneOf(true, false)
      alt <- Gen.oneOf(true, false)
    } yield Cmp(c, op, v, litLeft, alt)
    val preds = samples(Gen.choose(1, 3).flatMap(Gen.listOfN(_, cmp)), 120, 7L)

    val mirror = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<",
      ">=" -> "<=")
    def attr(c: String) = AttributeReference(c, c match {
      case "l" => LongType
      case "d" => DoubleType
      case "c" => dec12
      case _ => StringType
    })()
    def str(v: Any) = Literal(UTF8String.fromString(v.toString), StringType)
    def catalyst(x: Cmp): Expression = {
      val (colE, litE) = (x.c, x.v) match {
        case ("l", v: Long) =>
          (attr("l"), if (x.alt && v.isValidInt) Literal(v.toInt) else Literal(v))
        case ("d", v: Double) => (attr("d"), Literal(v, DoubleType))
        case ("c", v: java.math.BigDecimal) =>
          val t = if (x.alt) DecimalType(14, 2) else dec12
          (if (x.alt) Cast(attr("c"), t) else attr("c"), Literal(Decimal(v), t))
        case (c, v) => (attr(c), str(v))
      }
      if (x.c == "part" && x.alt) In(colE, Seq(str("p0"), litE))
      else {
        val (op, l, r) =
          if (x.litLeft) (mirror(x.op), litE, colE) else (x.op, colE, litE)
        op match {
          case "=" => EqualTo(l, r)
          case "<" => LessThan(l, r)
          case "<=" => LessThanOrEqual(l, r)
          case ">" => GreaterThan(l, r)
          case _ => GreaterThanOrEqual(l, r)
        }
      }
    }
    def column(x: Cmp): Column = {
      val (c, v) = (col(x.c), lit(x.v))
      if (x.c == "part" && x.alt) c.isin("p0", x.v)
      else x.op match {
        case "=" => c === v
        case "<" => c < v
        case "<=" => c <= v
        case ">" => c > v
        case _ => c >= v
      }
    }
    def rel(path: String) = path.substring(path.lastIndexOf("/data/") + 6)
    def files(df: DataFrame): Set[String] = df.inputFiles.map(rel).toSet

    // the same bounds through the Scala reads: LONG exact (a strict bound
    // is ±1; at Long.MinValue/MaxValue it wraps to no bound, as the
    // comparison itself bounds nothing there), the other kinds inclusive,
    // NaN literals ignored, DOUBLE's open ceiling NaN; the reads' file
    // sets intersect across columns
    def viaReads(cs: Seq[Cmp]): Set[String] = {
      def on(c: String) = cs.filter(_.c == c)
      def lows[A](xs: Seq[Cmp]) =
        xs.filter(x => x.op == "=" || x.op.startsWith(">")).map(_.v.asInstanceOf[A])
      def highs[A](xs: Seq[Cmp]) =
        xs.filter(x => x.op == "=" || x.op.startsWith("<")).map(_.v.asInstanceOf[A])
      val reads = Seq.newBuilder[DataFrame]
      val ls = on("l").map { x =>
        val v = x.v.asInstanceOf[Long]
        x.op match {
          case "=" => ("l", v, v)
          case ">" => ("l", v + 1, Long.MaxValue)
          case ">=" => ("l", v, Long.MaxValue)
          case "<" => ("l", Long.MinValue, v - 1)
          case _ => ("l", Long.MinValue, v)
        }
      }
      if (ls.nonEmpty) reads += SnapshotTable.readRanges(spark, dir, ls)
      val ss = on("s")
      if (ss.nonEmpty) reads += SnapshotTable.readRangeStr(spark, dir, "s",
        lows[String](ss).reduceOption((a, b) => if (utf8Cmp(a, b) >= 0) a else b),
        highs[String](ss).reduceOption((a, b) => if (utf8Cmp(a, b) <= 0) a else b))
      val ds = on("d").filterNot(_.v.asInstanceOf[Double].isNaN)
      if (ds.nonEmpty) reads += SnapshotTable.readRangeDbl(spark, dir, "d",
        lows[Double](ds).reduceOption((a, b) =>
          if (java.lang.Double.compare(a, b) >= 0) a else b)
          .getOrElse(Double.NegativeInfinity),
        highs[Double](ds).reduceOption((a, b) =>
          if (java.lang.Double.compare(a, b) <= 0) a else b)
          .getOrElse(Double.NaN))
      val cs2 = on("c")
      if (cs2.nonEmpty) reads += SnapshotTable.readRangeDec(spark, dir, "c",
        lows[java.math.BigDecimal](cs2).reduceOption((a, b) =>
          if (a.compareTo(b) >= 0) a else b),
        highs[java.math.BigDecimal](cs2).reduceOption((a, b) =>
          if (a.compareTo(b) <= 0) a else b))
      val ps = on("part").map(x =>
        if (x.alt) Set("p0", x.v.toString) else Set(x.v.toString))
      if (ps.nonEmpty)
        reads += SnapshotTable.readPartitions(spark, dir, ps.reduce(_ intersect _))
      reads.result().map(files).foldLeft(all)(_ intersect _)
    }

    // (b)'s ground truth in one job: per predicate, the files holding a
    // row Spark's own filter keeps
    val anyHit = preds.zipWithIndex.map { case (cs, i) =>
      max(when(cs.map(column).reduce(_ && _), 1).otherwise(0)).as(s"h$i")
    }
    val hits = SnapshotTable.read(spark, dir)
      .groupBy(input_file_name().as("__f"))
      .agg(anyHit.head, anyHit.tail: _*).collect()
    var pruning = 0
    preds.zipWithIndex.foreach { case (cs, i) =>
      // the conjuncts arrive as a list or folded into one And tree
      val exprs = cs.map(catalyst)
      val pushed = if (i % 2 == 0) exprs else Seq(exprs.reduce(And))
      val kept = idx.prune(pushed).map(_._2).toSet
      assert(kept == viaReads(cs),
        s"prune and the Scala reads disagree on $cs")
      val matched = hits.filter(_.getAs[Int](s"h$i") == 1)
        .map(r => rel(r.getString(0))).toSet
      assert(matched.subsetOf(kept),
        s"unsound: $cs pruned ${matched -- kept}, which hold matching rows")
      if (kept.size < all.size) pruning += 1
    }
    assert(pruning >= preds.size / 4,
      s"only $pruning of ${preds.size} predicates pruned any file")
    // a stat of another kind never prunes: a STRING probe on the LONG
    // column keeps every file, through either path
    assert(files(SnapshotTable.readRangeStr(spark, dir, "l", Some("zz"),
      Some("zz"))) == all)
    assert(idx.prune(Seq(EqualTo(attr("l"), str("zz")))).map(_._2).toSet == all)
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
