package graft
import org.apache.spark.sql.SparkSession

/** One local-session builder for every runnable main (Bench / Verify /
  * BenchFocus / Explain). A config added here reaches all tools at once —
  * in particular the noise-arbitration tool (BenchFocus) can never measure
  * under different settings than the bench it is checking. */
object Sessions {
  def local(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Naive parquet timestamps read as TIMESTAMP in the UTC session (not
      // TIMESTAMP_NTZ), matching the DuckDB oracle's naive-timestamp
      // arithmetic and keeping epoch casts (`ts.cast("double")`) legal.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // fresh per-JVM warehouse: managed tables (the bucketed co-located
      // join layout) otherwise land in ./spark-warehouse, and a LATER run
      // with a fresh metastore hits LOCATION_ALREADY_EXISTS on the stale
      // directory (saveAsTable overwrite can't fix a location the catalog
      // doesn't own)
      .config("spark.sql.warehouse.dir", graft.core.Artifacts.dir("graft-wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
