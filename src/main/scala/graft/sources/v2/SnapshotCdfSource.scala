package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.GraftStreamingBridge
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.sources.SnapshotTable

/** STREAMING change feed over the snapshot table —
  * `spark.readStream.format("graft-snapshot-cdf")` (options: `path`,
  * `keyCols` comma-separated, optional `startingVersion`) — the Delta
  * "readChangeFeed" streaming shape: table VERSIONS are the stream's
  * offsets, so each micro-batch is exactly the row-level changes of the
  * version window `(lastCommitted, latest]` computed by
  * [[SnapshotTable.changesBetween]] (O(changed partitions) per version
  * step, the snapshot never rescanned), and Structured Streaming's
  * offset log gives exactly-once delivery across restarts for free —
  * a replayed trigger re-reads the SAME version window from the
  * immutable manifests and produces the identical batch.
  *
  * First batch semantics: with no `startingVersion` the stream
  * BASELINES — the full snapshot at the first observed version arrives
  * as `insert` rows tagged with that version, then incremental windows
  * follow; with `startingVersion = v` the first batch is the changes of
  * `(v, latest]` (the consumer already holds v's state). Vacuum past a checkpointed version fails the stream
  * LOUDLY through [[SnapshotTable.changesBetween]]'s manifest check —
  * retention (`keepVersions`) is the stream's downtime budget, the same
  * contract as the open table formats'. A consumer that can REPLACE its
  * derived state opts into recovery instead with
  * `onVacuumedCheckpoint=rebase`: the feed gains a `rebased` boolean
  * column (false on every incremental batch), and the first batch after
  * a lost retention window is the full current snapshot as `insert`
  * rows with `rebased = true`, and the consumer replaces (not folds
  * into) its derived state.
  *
  * V1 [[Source]] rather than a DSv2 MicroBatchStream because the batch
  * is COMPUTED (per-version diffs are joins over manifest-selected
  * files), not read from static partitions — the V1 contract's
  * getBatch-returns-a-DataFrame is exactly that hook (the same reason
  * Delta's streaming source is V1). Schema is pinned at stream start
  * from the table's recorded schema header. */
class SnapshotCdfSource extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot-cdf"

  private def feedSchema(dir: String, keyCols: Seq[String],
      rebase: Boolean): StructType = {
    val v = SnapshotTable.currentVersion(dir)
    val table = SnapshotTable.schemaAt(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"table $dir (v$v) records no schema header — the stream needs " +
          "the recorded schema to pin its feed shape"))
    val missing = keyCols.filterNot(table.fieldNames.contains)
    require(missing.isEmpty,
      s"keyCols name columns the table does not have: ${missing.mkString(", ")}")
    val keys = keyCols.map(k => table(k))
    val vals = table.fields.filterNot(f => keyCols.contains(f.name)).toSeq
    val base = (StructField("change_type", StringType) +: (keys ++ vals)) :+
      StructField("change_version", LongType, nullable = false)
    StructType(
      if (rebase) base :+ StructField("rebased", BooleanType, nullable = false)
      else base)
  }

  private def params(parameters: Map[String, String])
      : (String, Seq[String], Boolean) = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot-cdf: 'path' (the table directory) is required"))
    val keys = parameters.getOrElse("keycols",
      parameters.getOrElse("keyCols", throw new IllegalArgumentException(
        "graft-snapshot-cdf: 'keyCols' (comma-separated key columns) is " +
          "required — the change feed diffs on them")))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val rebase = parameters.get("onvacuumedcheckpoint")
      .orElse(parameters.get("onVacuumedCheckpoint")) match {
      case None | Some("fail") => false
      case Some("rebase") => true
      case Some(other) => throw new IllegalArgumentException(
        s"onVacuumedCheckpoint must be 'fail' (default) or 'rebase', got $other")
    }
    (dir, keys, rebase)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (dir, keys, rebase) = params(parameters)
    (shortName(), feedSchema(dir, keys, rebase))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (dir, keys, rebase) = params(parameters)
    val starting = parameters.get("startingversion")
      .orElse(parameters.get("startingVersion")).map(_.toLong)
    new SnapshotCdfStream(sqlContext.sparkSession, dir, keys,
      feedSchema(dir, keys, rebase), starting, rebase)
  }
}

private[v2] class SnapshotCdfStream(spark: SparkSession, tableDir: String,
    keyCols: Seq[String], feedSchema: StructType,
    startingVersion: Option[Long], rebaseOnVacuum: Boolean) extends Source {

  override def schema: StructType = feedSchema

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().trim.toLong
  }

  override def getOffset: Option[Offset] = {
    val v = SnapshotTable.currentVersion(tableDir)
    if (v <= 0L) None else Some(LongOffset(v))
  }

  /** Column order pinned to [[schema]]; change_version stamped per step
    * by changesBetween, per-row lit for the baseline batch. Feed columns
    * ABSENT from the batch are null-filled with the pinned type — a
    * getBatch window spanning versions written under an older schema
    * (startingVersion / restart after an add-column evolution) otherwise
    * crashes the stream on an AnalysisException over a valid window. */
  private def ordered(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val filled = feedSchema.fields.foldLeft(df) { (d, f) =>
      if (present(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    filled.select(feedSchema.fieldNames.map(col).toSeq: _*)
  }

  /** The full snapshot AT version `v` as insert rows — the first batch of
    * an unanchored stream, and the RE-BASELINE batch after a lost
    * retention window (rebased = true there: the consumer must REPLACE
    * its derived state, not fold into it — anything absent from the
    * baseline was deleted inside the lost window). */
  private def baseline(v: Long, rebased: Boolean): DataFrame = {
    val full = SnapshotTable.readAt(spark, tableDir, v)
      .withColumn("change_type", lit("insert"))
      .withColumn("change_version", lit(v))
    ordered(
      if (rebaseOnVacuum) full.withColumn("rebased", lit(rebased)) else full)
  }

  private def incremental(from: Long, to: Long): DataFrame = {
    val d = SnapshotTable.changesBetween(spark, tableDir, from, to, keyCols)
    ordered(
      if (rebaseOnVacuum) d.withColumn("rebased", lit(false)) else d)
  }

  /** Rebase recovery target: the requested version when its manifest
    * still exists, else the CURRENT version (retention always keeps it).
    * A restart can replay a window BELOW the lost history twice — batch
    * reconstruction plus the live batch — so the rebase batch may arrive
    * more than once with the same snapshot: idempotent under the
    * consumer's REPLACE-state contract, which is why rebase is opt-in. */
  private def readableOr(to: Long): Long =
    if (SnapshotTable.manifestExists(tableDir, to)) to
    else SnapshotTable.currentVersion(tableDir)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = versionOf(end)
    val batch = start.map(versionOf).orElse(startingVersion) match {
      case Some(from) if from >= to && SnapshotTable.manifestExists(tableDir, to) =>
        // replay edge: nothing new in the window
        incremental(to, to).limit(0)
      // `from <= to` keeps this branch strictly incremental: a replay
      // where start >= end but END's manifest is vacuumed (start's still
      // existing) would otherwise match here and throw changesBetween's
      // fromVersion-ahead error — in rebase mode that inconsistency must
      // fall through to the recovery branch below instead
      case Some(from) if from >= 1 && from <= to &&
          SnapshotTable.manifestExists(tableDir, from) =>
        incremental(from, to)
      case Some(_) if rebaseOnVacuum =>
        // the checkpointed version was vacuumed past — the incremental
        // history is GONE; re-baseline instead of failing the stream
        // (opt-in: the consumer declared it can replace derived state)
        baseline(readableOr(to), rebased = true)
      case Some(from) =>
        // loud-failure default: retention is the stream's downtime budget
        incremental(from, to)
      case None if rebaseOnVacuum && !SnapshotTable.manifestExists(tableDir, to) =>
        // an unanchored baseline whose version was vacuumed between the
        // offset write and this (re)construction — same recovery shape
        baseline(readableOr(to), rebased = true)
      case None =>
        baseline(to, rebased = false)
    }
    GraftStreamingBridge.asStreaming(spark, batch)
  }

  override def stop(): Unit = ()
}
