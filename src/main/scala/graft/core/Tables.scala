package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * All scans go through here so every query gets the same path layout and
  * so column pruning / predicate pushdown can be verified in one place
  * (`.explain` shows `PushedFilters` / `ReadSchema` on these scans).
  */
object Tables {
  /** Scan one table from a scale-factor directory; its schema is read
    * once per application ([[Artifacts.readParquet]]). */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.readParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** `events.ts` is nanosecond-precision parquet, which Spark 4 only reads
    * under `spark.sql.legacy.parquet.nanosAsLong` (set in Verify/Bench/test
    * sessions) — convert the raw nanos back to a (µs) timestamp here.
    * Integer division: ns epochs exceed 2^53, double math would corrupt. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
