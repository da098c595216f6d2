package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec

/** Round-12 footer-stats pin: the clustered commit's per-file manifest
  * stats now come from the staged files' parquet FOOTERS (driver-side,
  * no distributed rescan job). This spec proves footer-derived bounds
  * are bit-identical to what Spark's own per-file min/max scan computes
  * for every supported stat type — LONG, STRING (incl. non-ASCII and
  * empty string), DECIMAL — plus the contracts around the edges: an
  * all-null column gets NO bound (always-read), row counts land in the
  * manifest's bytes:rows field, and DOUBLE batches keep the distributed
  * scan because parquet-mr drops NaN from chunk min/max (measured), which
  * would otherwise violate the hi = NaN prune contract. */
class ParquetFooterStatsSpec extends SparkSpec {
  import spark.implicits._

  test("footer-derived LONG/STRING/DECIMAL manifest stats equal Spark's " +
      "per-file scan bounds; all-null columns record no bound") {
    val dir = scratch("graft_footer_stats")
    val df = spark.range(0L, 400L).toDF("k")
      .withColumn("s",
        when(col("k") % 7 === 0, lit("ätlas-"))
          .when(col("k") % 11 === 0, lit(""))
          .otherwise(concat(lit("code-"), format_string("%03d", col("k")))))
      .withColumn("m",
        // one full key range (300+) entirely NULL so at least one staged
        // file records NO decimal bound at all
        when(col("k") < 300, (col("k") * 7).cast(DecimalType(12, 2)) / 100)
          .otherwise(lit(null).cast(DecimalType(12, 2))))
      .withColumn("p", when(col("k") % 2 === 0, "even").otherwise("odd"))
    SnapshotTable.overwriteClustered(spark, dir, df, partCol = "p",
      statsCols = Seq("k", "s", "m"), rangeFiles = 4)

    val st = SnapshotTable.typedStatsAt(dir, 1L)
    val entries = SnapshotTable.entries(dir)
    assert(entries.nonEmpty && st.nonEmpty)

    // ground truth: Spark's own min/max over each staged file, read back
    // individually — exactly what the pre-round-12 distributed rescan
    // recorded into the manifest
    entries.foreach { case (_, rel) =>
      val f = spark.read.parquet(s"$dir/data/$rel")
      val r = f.agg(
        min(col("k")), max(col("k")), min(col("s")), max(col("s")),
        min(col("m")), max(col("m")), count(lit(1))).head()
      val got = st.getOrElse(rel, Map.empty)
      assert(got.get("k").contains(
        SnapshotTable.LongStat(r.getLong(0), r.getLong(1))),
        s"LONG bound mismatch for $rel: ${got.get("k")} vs scan " +
          s"(${r.getLong(0)}, ${r.getLong(1)})")
      assert(got.get("s").contains(
        SnapshotTable.StrStat(r.getString(2), r.getString(3))),
        s"STRING bound mismatch for $rel: ${got.get("s")} vs scan " +
          s"(${r.getString(2)}, ${r.getString(3)})")
      if (r.isNullAt(4))
        assert(!got.contains("m"),
          s"all-null decimal column must record no bound for $rel")
      else {
        val want = SnapshotTable.DecStat(r.getDecimal(4), r.getDecimal(5))
        val have = got.get("m")
        assert(have.exists {
          case SnapshotTable.DecStat(lo, hi) =>
            lo.compareTo(want.lo) == 0 && hi.compareTo(want.hi) == 0
          case _ => false
        }, s"DECIMAL bound mismatch for $rel: $have vs $want")
      }
      // row counts from the footers land in the manifest's bytes:rows
      val meta = SnapshotTable.fileMetaAt(dir, 1L)
      assert(meta(rel)._2 == r.getLong(6),
        s"row count mismatch for $rel: ${meta(rel)._2} vs ${r.getLong(6)}")
    }
  }

  test("DOUBLE stat batches keep the scan path: a NaN-carrying file still " +
      "records hi = NaN (parquet footers drop NaN and must not be used)") {
    val dir = scratch("graft_footer_nan")
    val df = spark.range(0L, 200L).toDF("k")
      .withColumn("x",
        when(col("k") === 150, lit(Double.NaN))
          .otherwise(col("k").cast("double") / 2))
      .withColumn("p", lit("all"))
    SnapshotTable.overwriteClustered(spark, dir, df, partCol = "p",
      statsCols = Seq("x"), rangeFiles = 4)
    val bounds = SnapshotTable.typedStatsAt(dir, 1L).values
      .flatMap(_.get("x")).collect {
        case SnapshotTable.DblStat(lo, hi) => (lo, hi) }
    assert(bounds.nonEmpty)
    assert(bounds.exists(_._2.isNaN),
      "the NaN-carrying file must record hi = NaN in the manifest")
  }
}
