package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.sources.SnapshotTable.{ColStat, DblStat, DecStat, LongStat, StrStat}

/** Pins what the staging write's tasks record for each file
  * ([[StagedStats]]) against Spark's own per-file `min`/`max`/`count`,
  * read back from each staged file alone and compared under the
  * [[ColStat]] orders; the recorded bytes against the file's length on
  * disk; and the recorded file set against a listing of the batch
  * directory. */
class StagedStatsSpec extends SparkSpec {

  /** Stage `df` (partitioned on `p`, at most 60 rows a file) and check every
    * file's recorded facts against the file itself. */
  private def pin(df: DataFrame, statsCols: Seq[String])
      : Map[String, Map[String, ColStat]] = {
    val dir = scratch("graft_staged_stats")
    val tag = SnapshotTable.newBatchTag(1L)
    val staged = SnapshotTable.stageBatch(df, dir, "p", tag,
      targetRowsPerFile = 60L, statsCols = statsCols)
    val batch = new java.io.File(s"$dir/data/batch-$tag")
    val listed = batch.listFiles.filter(_.getName.startsWith("__p="))
      .flatMap(d => d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => s"batch-$tag/${d.getName}/${f.getName}")).toSet
    val files = staged.entries.map(_._2)
    assert(files.size > 2 && files.toSet == listed,
      s"tracked files $files must be the batch's files $listed")
    assert(staged.meta.keySet == listed)
    files.foreach { rel =>
      val f = spark.read.parquet(s"$dir/data/$rel")
      val r = f.agg(count(lit(1)), statsCols.flatMap(c =>
        Seq(min(col(c)), max(col(c)))): _*).head()
      val (bytes, rows) = staged.meta(rel)
      assert(bytes == new java.io.File(s"$dir/data/$rel").length,
        s"recorded bytes of $rel")
      assert(rows == r.getLong(0), s"recorded rows of $rel")
      val got = staged.stats.getOrElse(rel, Map.empty)
      statsCols.zipWithIndex.foreach { case (c, i) =>
        if (r.isNullAt(1 + 2 * i))
          assert(!got.contains(c), s"all-null $c in $rel must record no bound")
        else assert(got.get(c).exists(same(_, r, 1 + 2 * i)),
          s"$c bound of $rel: ${got.get(c)} vs Spark's " +
            s"(${r.get(1 + 2 * i)}, ${r.get(2 + 2 * i)})")
      }
    }
    staged.stats
  }

  /** Does the recorded bound equal Spark's (min, max) at `i`, `i + 1`
    * under the ColStat orders (±0.0 equal, NaN equal to NaN)? */
  private def same(st: ColStat, r: Row, i: Int): Boolean = st match {
    case LongStat(lo, hi) => lo == r.getLong(i) && hi == r.getLong(i + 1)
    case StrStat(lo, hi) => lo == r.getString(i) && hi == r.getString(i + 1)
    case DblStat(lo, hi) =>
      def eq(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
      eq(lo, r.getDouble(i)) && eq(hi, r.getDouble(i + 1))
    case DecStat(lo, hi) =>
      lo.compareTo(r.getDecimal(i)) == 0 && hi.compareTo(r.getDecimal(i + 1)) == 0
  }

  test("LONG, STRING, DECIMAL write-task bounds equal Spark's min/max/count") {
    val df = spark.range(0L, 400L).toDF("k")
      .withColumn("s",
        when(col("k") % 17 === 0, lit(null).cast("string"))
          .when(col("k") % 7 === 0, lit("ätlas-"))
          .when(col("k") % 11 === 0, lit(""))
          .when(col("k") % 13 === 0, concat(lit("𝔘-"), col("k")))
          .when(col("k") % 5 === 0, concat(lit("�-"), col("k")))
          .otherwise(concat(lit("code-"), format_string("%03d", col("k")))))
      .withColumn("d9", ((col("k") - 200) * 7 / 100).cast(DecimalType(9, 2)))
      .withColumn("d18", (col("k") * 1234567).cast(DecimalType(18, 4)))
      .withColumn("d38", (col("k") * -98765).cast(DecimalType(38, 6)))
      // "z" files hold no non-null decimal at all
      .withColumn("p", when(col("k") >= 300, "z")
        .when(col("k") % 2 === 0, "even").otherwise("odd"))
      .withColumn("d9", when(col("p") === "z", lit(null)).otherwise(col("d9")))
      .withColumn("d18", when(col("k") % 3 === 0 || col("p") === "z", lit(null))
        .otherwise(col("d18")))
      .withColumn("d38", when(col("p") === "z", lit(null)).otherwise(col("d38")))
    val st = pin(df, Seq("k", "s", "d9", "d18", "d38"))
    assert(st.valuesIterator.exists(m => m.contains("k") && !m.contains("d9")),
      "an all-null file must be among the staged files")
  }

  test("DOUBLE write-task bounds equal Spark's: NaN top, ±0.0 equal, ±∞") {
    val df = spark.range(0L, 300L).toDF("k")
      .withColumn("x",
        when(col("k") % 50 === 7, lit(Double.NaN))
          .when(col("k") % 23 === 0, lit(-0.0))
          .when(col("k") % 29 === 0, lit(0.0))
          .when(col("k") === 101, lit(Double.PositiveInfinity))
          .when(col("k") === 202, lit(Double.NegativeInfinity))
          .when(col("k") % 19 === 0, lit(null).cast("double"))
          .otherwise((col("k") - 150).cast("double") / 3))
      .withColumn("p", when(col("k") < 150, "lo").otherwise("hi"))
    val his = pin(df, Seq("x")).valuesIterator.flatMap(_.get("x")).collect {
      case DblStat(_, hi) => hi
    }.toSeq
    assert(his.exists(_.isNaN), "a NaN-carrying file must record hi = NaN")
  }

  test("a DOUBLE-stat clustered overwrite runs no more jobs than a LONG one") {
    val df = spark.range(0L, 2000L).toDF("k")
      .withColumn("x", col("k").cast("double") / 3)
      .withColumn("p", (col("k") % 2).cast("string"))
    def overwrite(c: String) = ranIn(SnapshotTable.overwriteClustered(spark,
      scratch("graft_staged_jobs"), df, "p", statsCols = Seq(c),
      rangeFiles = 4))._2
    overwrite("k") // warm-up
    val (long, dbl) = (overwrite("k"), overwrite("x"))
    assert(dbl.jobs <= long.jobs, s"DOUBLE $dbl vs LONG $long")
  }
}
