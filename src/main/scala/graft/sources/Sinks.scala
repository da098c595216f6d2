package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ColFns

/** Sources and sinks beyond plain parquet scans (SURVEY §2.1).
  *
  * - Chunked CSV sink (S3/S22, uniprot.py:113-167 `build_csv` and every
  *   adapter's `to_csv`): header CSV limited to `maxRecordsPerFile` rows per
  *   part — Spark-native chunking (no driver-side slicing), with the
  *   reference's Neo4j escaping and pipe-encoding applied at the boundary
  *   only.
  * - Flat-record scan (S12, kegg_local.py:211-274): KEGG-style flat files
  *   with `///` record separators parsed distributed via the text source's
  *   custom line separator — records never straddle partitions because the
  *   format splits on the delimiter itself.
  */
object Sinks {

  /** Write a DataFrame as chunked header CSVs. Array columns are
    * pipe-joined and string payloads Neo4j-escaped (F4) at the boundary;
    * internal plans keep real types (SURVEY §1.2). */
  def chunkedCsv(df: DataFrame, path: String, maxRecordsPerFile: Int = 100000): Unit = {
    val out = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) =>
          d.withColumn(f.name, ColFns.pipeJoin(
            transform(col(f.name).cast("array<string>"),
              x => ColFns.escapeProps(x))))
        case org.apache.spark.sql.types.StringType =>
          d.withColumn(f.name, ColFns.escapeProps(col(f.name)))
        case _ => d
      }
    }
    out.write.mode("overwrite")
      .option("header", "true")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .csv(path)
  }

  /** Partitioned parquet layout (the 100 TB table layout): directory
    * partitioning on low-cardinality derived keys so scans with partition
    * predicates prune whole directories (visible as PartitionFilters in the
    * plan — asserted in SinksSpec). */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Morton (bit-interleaved) Z-value of two non-negative integer
    * columns, 21 bits each: bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure integer shift/mask expressions — whole-stage
    * codegen, and trivially replicable by any engine. */
  def zValue(a: Column, b: Column, bits: Int = 21): Column =
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)),
            2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Key-based MERGE (upsert + delete) into a month/whatever-partitioned
    * parquet table WITHOUT a transactional table format — the classic
    * "apply a CDC batch to the snapshot" operator:
    *
    *  1. the touched partition set comes from the UPDATES (a bounded
    *     dimension — collected, it becomes partition-pruning predicates),
    *  2. only touched base partitions are scanned (PartitionFilters prune
    *     the rest — the reason a 100 TB base costs only
    *     O(touched partitions) per batch),
    *  3. per key keep the highest `versionCol` row (the A1 keep-first
    *     idiom), then drop tombstones (`deleteCol`),
    *  4. the merged rows are STAGED to `stagingDir` and only then written
    *     over the base with dynamic partition overwrite — Spark plans
    *     lazily, so writing directly over a directory being read would
    *     race the scan; the stage-then-swap is the non-negotiable part,
    *     not a test convenience.
    *
    * Update rows may target new partitions (inserts) — dynamic overwrite
    * creates them and leaves every untouched partition byte-identical.
    * Assumes at most one update row per key per batch (CDC compaction
    * upstream); ties on version fall back to tombstone-last so a
    * same-version update+delete pair deletes. */
  def upsertPartitioned(
      spark: SparkSession, baseDir: String, updates: DataFrame,
      partCol: String, keyCols: Seq[String], versionCol: String,
      deleteCol: String, stagingDir: String): Unit = {
    val touched = updates.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    val base = spark.read.parquet(baseDir)
      .filter(col(partCol).isin(touched: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col(deleteCol).desc)
    val merged = base.unionByName(updates.select(base.columns.map(col): _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(deleteCol))
      .drop("__rn")
    merged.write.mode("overwrite").parquet(stagingDir)
    // cluster by partition key so each touched partition rewrites as one
    // file, not one per upstream task
    spark.read.parquet(stagingDir)
      .repartition(col(partCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(baseDir)
  }

  /** Scan a `///`-delimited flat-record file into one row per record. */
  def flatRecords(spark: SparkSession, path: String): DataFrame =
    spark.read.option("lineSep", "///").text(path)
      // trim() strips spaces only — records are newline-padded, so trim all
      // leading/trailing whitespace explicitly
      .select(regexp_replace(col("value"), "^\\s+|\\s+$", "").as("record"))
      .filter(col("record") =!= "")

  /** Parse KEGG-style `KEY  value` continuation-line records into
    * (record, key, value) rows: a line starting with an upper-case keyword
    * opens a section; indented lines continue it (kegg_local.py:211-274
    * semantics, re-expressed as explode + a running section key). */
  def flatRecordFields(records: DataFrame): DataFrame =
    flatRecordFieldsKeyed(
      records.withColumn("rec_id", monotonically_increasing_id()))

  /** Same parse with a caller-supplied stable `rec_id` column — the
    * oracle-checkable form (monotonically_increasing_id depends on
    * physical partitioning, so the keyless overload is unit-test-only). */
  def flatRecordFieldsKeyed(records: DataFrame): DataFrame = {
    val lines = records
      .select(col("rec_id"), col("record"),
        posexplode(split(col("record"), "\n")).as(Seq("line_no", "line")))
      .filter(trim(col("line")) =!= "")
      .withColumn("keyword", regexp_extract(col("line"), "^([A-Z_]+)", 1))
    // carry the last non-empty keyword forward (continuation lines)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rec_id")).orderBy(col("line_no"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    lines
      .withColumn("section",
        last(when(col("keyword") =!= "", col("keyword")), ignoreNulls = true).over(w))
      .withColumn("value_part",
        trim(regexp_replace(col("line"), "^[A-Z_]+", "")))
      .filter(col("value_part") =!= "")
      .groupBy(col("rec_id"), col("section"))
      .agg(concat_ws(" ",
        transform(
          array_sort(collect_list(struct(col("line_no"), col("value_part")))),
          s => s.getField("value_part"))).as("value"))
  }

  /** Write each row's binary payload as one `<id>.bin` file under `dir` —
    * the fixture writer for the `binaryFile` ingestion path (tasks write
    * with plain NIO, so this targets a shared filesystem; the OPERATOR
    * under test is the read side: Spark's binaryFile DSv2 source listing
    * and streaming opaque blobs with (path, length, content) metadata —
    * the ingestion shape for image/audio corpora, see
    * [[graft.multimodal.Multimodal]]). */
  def writeBlobs(df: DataFrame, idCol: String, payloadCol: String,
      dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    df.select(col(idCol).cast("string").as("id"),
        col(payloadCol).cast("binary").as("b"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, r.getString(0) + ".bin"),
            r.getAs[Array[Byte]](1))
        }
      }
  }

  /** Incremental aggregate maintenance (the materialized-view delta
    * merge): fold a new batch's aggregate into the persisted aggregate
    * state without touching the already-aggregated history. Both inputs
    * carry `keys` plus SUM-mergeable measure columns (counts are sums of
    * 1s; min/max/HLL merge the same way — sums are the demonstrator);
    * the output is the refreshed state under the same schema, so the
    * maintenance is a FIXED SHAPE applied per batch.
    *
    * Scale: the merge shuffles state ∪ delta-aggregate on the key — the
    * state is key-dimension-sized (never fact-sized) and the delta side
    * is one batch, so refresh cost is O(|state| + |batch|) per cycle
    * instead of the O(|history|) full recompute. Equality with the full
    * recompute is the oracle contract (sum associativity). */
  def mergeAggState(base: DataFrame, delta: DataFrame,
      keys: Seq[String], sums: Seq[String]): DataFrame = {
    val aggs = sums.map(c => sum(col(c)).as(c))
    base.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
