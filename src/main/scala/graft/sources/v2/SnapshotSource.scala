package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.GraftStreamingBridge
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, IntegerType, LongType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.ColStat

/** Spark-native READ integration for the snapshot table format —
  * `spark.read.format("graft-snapshot").load(tableDir)` (options:
  * `versionAsOf` for time travel) — the Delta/Iceberg integration shape:
  * a [[HadoopFsRelation]] whose [[FileIndex]] is the MANIFEST, so
  *
  *  - file listing never touches the directory tree (one pointer resolve
  *    + one manifest read, exactly [[SnapshotTable.read]]'s contract),
  *  - Catalyst's pushed-down data filters reach
  *    [[SnapshotFileIndex.listFiles]], where partition-column equality
  *    prunes by manifest ENTRY and range predicates on recorded stat
  *    columns (LONG or STRING min/max) prune by manifest stats —
  *    automatic file skipping for a plain `.filter(...)`/SQL WHERE,
  *    where the Scala API needed the caller to invoke
  *    [[SnapshotTable.readRange]] / `readRangeStr` by hand,
  *  - everything below the listing is Spark's own parquet scan: column
  *    pruning, row-group predicate pushdown, vectorized reading and
  *    whole-stage codegen all apply unchanged.
  *
  * Pruning is sound by construction: a file is skipped only when a
  * pushed conjunct is provably FALSE for every row the file can contain
  * (its recorded [min, max] misses the predicate's range — string bounds
  * compared in unsigned-UTF-8-byte order, the order Spark computed them
  * under — or its manifest partition value misses an equality/IN set);
  * files without stats for a referenced column are always read, and
  * Spark re-applies the exact predicate on rows, so stats only ever
  * SHRINK the file list.
  *
  * WRITES go through the same transactional commit protocol as the
  * Scala API — [[CreatableRelationProvider.createRelation]] delegates
  * straight to [[SnapshotTable.append]]/`overwrite(Clustered)`, so
  * `df.write.format("graft-snapshot").mode("append").save(dir)` stages a
  * batch and CAS-commits a manifest exactly like `SnapshotTable.append`
  * (schema-mismatch rejection and the concurrent-writer retry loop
  * included), never a bare parquet dump (round-10 missing #2: vanilla
  * Spark code could read the format but not produce it). Because the
  * provider is DSv1, the same class serves the SESSION-CATALOG surface
  * for free: `df.write.format("graft-snapshot").option("partCol", …)
  * .saveAsTable("t")` registers `t` as a catalog table over this
  * provider and `spark.table("t")` / SQL `FROM t` resolve back through
  * [[RelationProvider.createRelation]] — snapshot tables addressable by
  * IDENTIFIER, not just path (round-10 missing #4). Write options:
  * `partCol` (required when creating), `statsCols` (comma-separated —
  * routes the overwrite through the range-clustered, stats-carrying
  * staging path), `rangeFiles` (cluster width, default 32).
  *
  * Reads require the manifest schema header (every table committed by
  * this writer has one); pre-header tables read via the Scala API. */
class SnapshotSource extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  /** STREAMING sink — `df.writeStream.format("graft-snapshot")` — the
    * write-side twin of the CDF source: every trigger commits ONE
    * transactional snapshot version (append mode = [[SnapshotTable
    * .append]], complete mode = full overwrite; a first-ever append
    * batch creates the table and needs `partCol`). Exactly-once over
    * Structured Streaming's at-least-once replay comes from the `#txn`
    * watermark ([[SnapshotTable.txnsAt]]): each commit records
    * (txnAppId, batchId) in the manifest, a replayed batch with id ≤
    * the recorded watermark is skipped — checked both before staging
    * (cheap fast path) and again INSIDE the commit lock (the race-proof
    * check). One streaming query per txnAppId is the contract (Delta's
    * `txnAppId` semantics); CDC upserts belong to the dedicated helper
    * (`SinkStreams.streamingSnapshotUpsert`), so update mode is
    * refused loudly rather than half-supported. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot sink: 'path' (the table directory) is required"))
    require(outputMode == OutputMode.Append() ||
        outputMode == OutputMode.Complete(),
      "graft-snapshot sink supports append (transactional INSERT per " +
        "trigger) and complete (overwrite per trigger); for update-mode " +
        "CDC apply use SinkStreams.streamingSnapshotUpsert")
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("txnappid", "graft-snapshot-sink"))
    require(!appId.exists(c => c == ':' || c == '\t' || c == '\n'),
      "txnAppId must not contain ':', tab or newline (manifest header " +
        "grammar)")
    new SnapshotSink(sqlContext.sparkSession, dir,
      parameters.get("partCol").orElse(parameters.get("partcol"))
        .orElse(partitionColumns.headOption),
      appId, complete = outputMode == OutputMode.Complete())
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot: 'path' (the table directory) is required"))
    val v = parameters.get("versionAsOf") match {
      case Some(txt) =>
        val ver = txt.toLong
        require(SnapshotTable.manifestExists(dir, ver),
          s"version $ver of $dir is unreadable — never committed, or " +
            "vacuumed past the retention window (keepVersions)")
        ver
      case None => SnapshotTable.currentVersion(dir)
    }
    val schema = SnapshotTable.schemaAt(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"table $dir (v$v) records no schema header — it predates the " +
          "#schema manifest header; recommit it through the current " +
          "writer, or read via the Scala API"))
    SnapshotFileIndex.relation(spark, dir, v, schema)
  }

  /** The writer side (`df.write.format("graft-snapshot")`): every mode
    * maps onto a TRANSACTIONAL SnapshotTable commit — append =
    * [[SnapshotTable.append]] (exact-schema INSERT, CAS-retried against
    * concurrent writers), overwrite/create = `overwrite` or (with
    * `statsCols`) `overwriteClustered`. A first-ever write in any mode
    * is a create and needs `partCol`; appends and overwrites of an
    * existing table default to its recorded partition column. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot: 'path' (the table directory) is required"))
    val exists = SnapshotTable.currentVersion(dir) >= 1L
    def pc: String = parameters.get("partCol")
      .orElse(if (exists)
        SnapshotTable.partColAt(dir, SnapshotTable.currentVersion(dir))
      else None)
      .getOrElse(throw new IllegalArgumentException(
        "graft-snapshot write: 'partCol' is required when creating a " +
          "table (existing tables default to their recorded partition " +
          "column)"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def write(): Unit =
      if (statsCols.nonEmpty)
        SnapshotTable.overwriteClustered(spark, dir, data, pc, statsCols,
          rangeFiles = parameters.get("rangeFiles").map(_.toInt)
            .getOrElse(32))
      else SnapshotTable.overwrite(spark, dir, data, pc)
    mode match {
      case SaveMode.Append =>
        if (exists) SnapshotTable.append(spark, dir, data) else write()
      case SaveMode.Overwrite => write()
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"snapshot table $dir already exists (SaveMode.ErrorIfExists)")
        write()
      case SaveMode.Ignore => if (!exists) write()
    }
    createRelation(sqlContext, parameters)
  }
}

/** One transactional snapshot commit per trigger (see
  * [[SnapshotSource.createSink]]'s contract scaladoc). The addBatch
  * frame is re-minted over the trigger's already-planned RDD
  * ([[GraftStreamingBridge.asBatch]] — the DeltaSink/FileStreamSink
  * pattern) so the staging write never re-executes the streaming plan. */
private[v2] class SnapshotSink(spark: SparkSession, dir: String,
    partColOpt: Option[String], appId: String,
    complete: Boolean) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val cur = SnapshotTable.currentVersion(dir)
    // fast-path replay skip (authoritative re-check sits inside the
    // commit lock in casCommit — this one just avoids re-staging)
    if (cur >= 1 &&
        SnapshotTable.txnsAt(dir, cur).get(appId).exists(_ >= batchId))
      return
    val df = GraftStreamingBridge.asBatch(spark, data)
    val txn = Some(appId -> batchId)
    def pc: String = partColOpt
      .orElse(if (cur >= 1) SnapshotTable.partColAt(dir, cur) else None)
      .getOrElse(throw new IllegalArgumentException(
        "graft-snapshot sink: 'partCol' is required when the first batch " +
          "creates the table"))
    if (complete)
      SnapshotTable.overwrite(spark, dir, df, pc, txn = txn)
    else if (cur >= 1) SnapshotTable.append(spark, dir, df, txn = txn)
    else SnapshotTable.overwrite(spark, dir, df, pc, op = "create",
      txn = txn)
  }

  override def toString: String = s"SnapshotSink[$dir, app=$appId]"
}

/** The manifest AS a Spark [[FileIndex]] — the ONE file index every
  * snapshot scan goes through: the `graft-snapshot` source's reads and
  * every [[SnapshotTable]] read (live, time-travel, range-pruned and
  * partition-pruned reads, the MERGE base, the DML and compaction
  * rewrites, both sides of a diff). Listing resolves version `version`'s
  * entries once (never a directory walk) — all of them, or the subset
  * `files` the Scala API already chose by manifest partition/stats — and
  * [[listFiles]] prunes them further against the pushed data filters:
  * partition-value equality/IN on the table's recorded partition column,
  * [lo, hi] overlap on any column the manifest carries min/max stats for.
  * The data files store the partition column as an ordinary column, so
  * `partitionSchema` is empty and every filter arrives as a data filter.
  *
  * ZERO-RPC, ZERO-JOB listing: every FileStatus is synthesized from the
  * manifest's recorded `bytes:rows` field ([[SnapshotTable.fileMetaAt]])
  * — index construction performs NO per-file metadata calls and launches
  * no Spark job (a `spark.read.parquet` of more than 32 paths lists them
  * in a job with one task per file). Only entries written before the
  * field existed fall back to one `getFileStatus` each
  * ([[fallbackStatCalls]] counts them — the spec pins the count at zero
  * for current-writer tables). `sizeInBytes` (join-strategy input) sums
  * the same recorded lengths. The index is an immutable snapshot of
  * version `version`: `refresh` is a no-op by design (re-load the source
  * to see later commits). */
class SnapshotFileIndex(spark: SparkSession, tableDir: String,
    version: Long, files: Option[Seq[String]] = None) extends FileIndex {

  private val entries = {
    val all = SnapshotTable.entriesAt(tableDir, version)
    files.fold(all) { fs =>
      val want = fs.toSet
      val sub = all.filter(e => want(e._2))
      require(sub.size == want.size, s"files not live in version $version " +
        s"of $tableDir: ${(want -- sub.map(_._2)).take(3).mkString(", ")}")
      sub
    }
  }
  private val stats = SnapshotTable.typedStatsAt(tableDir, version)
  private val partCol = SnapshotTable.partColAt(tableDir, version)

  private val dataRoot = {
    val raw = new Path(tableDir)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    new Path(fs.makeQualified(raw), "data")
  }

  /** Per-file getFileStatus round trips paid at construction — 0 for any
    * table whose manifest records lengths (every current-writer commit);
    * exposed so the zero-RPC contract is PINNED, not assumed. */
  @volatile var fallbackStatCalls: Int = 0

  private val statusOf: Map[String, FileStatus] = {
    val meta = SnapshotTable.fileMetaAt(tableDir, version)
    lazy val fs = dataRoot.getFileSystem(spark.sessionState.newHadoopConf())
    entries.map { case (_, rel) =>
      val p = new Path(dataRoot, rel)
      rel -> meta.get(rel).map { case (bytes, _) =>
        new FileStatus(bytes, false, 1, 128L << 20, 0L, p)
      }.getOrElse {
        fallbackStatCalls += 1
        fs.getFileStatus(p)
      }
    }.toMap
  }

  override def rootPaths: Seq[Path] = Seq(dataRoot)

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = statusOf.valuesIterator.map(_.getLen).sum

  override def inputFiles: Array[String] =
    entries.map { case (_, rel) => new Path(dataRoot, rel).toString }.toArray

  override def refresh(): Unit = () // immutable snapshot of one version

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = prune(dataFilters)
    Seq(PartitionDirectory(InternalRow.empty,
      keep.map { case (_, rel) => statusOf(rel) }.toArray))
  }

  /** Entries surviving the pushed filters — public so specs and the
    * registered query pin the pruning decisions directly. */
  def prune(dataFilters: Seq[Expression]): Seq[(String, String)] = {
    // per-column [lo, hi] bounds (LONG exact, STRING inclusive) and
    // partition-value sets from the provable conjuncts; anything
    // unrecognized keeps every file
    var lo = Map.empty[String, Long].withDefaultValue(Long.MinValue)
    var hi = Map.empty[String, Long].withDefaultValue(Long.MaxValue)
    var sLo = Map.empty[String, String]
    var sHi = Map.empty[String, String]
    // DOUBLE bounds tracked INCLUSIVE even for strict comparisons (the
    // string-bounds discipline: a file whose max equals a strict lower
    // bound is read and re-filtered to nothing — soundness over one
    // extra file). Bounds live in SPARK's total order, where NaN is the
    // TOP (above +∞): "no upper bound" is therefore NaN, not +∞ — a
    // lower-bounded-only predicate (`score >= x`) MATCHES NaN rows in
    // Spark (`NaN >= x` is TRUE), so an all-NaN file (min = max = NaN)
    // must survive it, which a +∞ ceiling would wrongly prune. The
    // tighten steps compare with Double.compare for the same reason —
    // math.min(v, NaN) returns NaN, which would LOOSEN a ceiling.
    var dLo = Map.empty[String, Double]
    var dHi = Map.empty[String, Double]
    var parts: Option[Set[String]] = None
    def longOf(e: Expression): Option[Long] = e match {
      case Literal(x: Long, LongType) => Some(x)
      case Literal(x: Int, IntegerType) => Some(x.toLong)
      case _ => None
    }
    def dblOf(e: Expression): Option[Double] = e match {
      case Literal(x: Double, DoubleType) if !x.isNaN => Some(x)
      case _ => None
    }
    def tightenDLo(n: String, v: Double): Unit =
      dLo += n -> dLo.get(n)
        .map(x => if (java.lang.Double.compare(v, x) > 0) v else x)
        .getOrElse(v)
    def tightenDHi(n: String, v: Double): Unit =
      dHi += n -> dHi.get(n)
        .map(x => if (java.lang.Double.compare(v, x) < 0) v else x)
        .getOrElse(v)
    // DECIMAL bounds: exact numeric order (BigDecimal.compareTo), no
    // NaN games — DECIMAL has none. Inclusive for strict comparisons,
    // same soundness discipline as the other types.
    var cLo = Map.empty[String, java.math.BigDecimal]
    var cHi = Map.empty[String, java.math.BigDecimal]
    def decOf(e: Expression): Option[java.math.BigDecimal] = e match {
      case Literal(d: Decimal, _: DecimalType) => Some(d.toJavaBigDecimal)
      case _ => None
    }
    // a decimal comparison usually arrives with the COLUMN wrapped in a
    // widening cast (decimal(12,2) literal 400.00 is decimal(5,2): Spark
    // promotes both sides to a common type) — unwrap it ONLY when the
    // cast is value-preserving (target holds every source value: no
    // fewer integer digits, no smaller scale), where pruning on the
    // source column's recorded bounds stays sound because
    // BigDecimal.compareTo is scale-insensitive. Any other cast shape
    // declines — soundness over coverage.
    def decNameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
        Some(a.name)
      case c: Cast => (c.child, c.dataType) match {
        case (a: AttributeReference, dt: DecimalType) => a.dataType match {
          case src: DecimalType
              if dt.precision - dt.scale >= src.precision - src.scale &&
                dt.scale >= src.scale => Some(a.name)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    def tightenCLo(n: String, v: java.math.BigDecimal): Unit =
      cLo += n -> cLo.get(n).map(x => if (v.compareTo(x) > 0) v else x)
        .getOrElse(v)
    def tightenCHi(n: String, v: java.math.BigDecimal): Unit =
      cHi += n -> cHi.get(n).map(x => if (v.compareTo(x) < 0) v else x)
        .getOrElse(v)
    def strOf(e: Expression): Option[String] = e match {
      case Literal(u: UTF8String, StringType) => Some(u.toString)
      case _ => None
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def narrowPart(vs: Set[String]): Unit =
      parts = Some(parts.map(_.intersect(vs)).getOrElse(vs))
    // STRING bounds are tracked INCLUSIVE even for strict comparisons
    // (sound: a file whose max equals a strict lower bound is read and
    // re-filtered to nothing) — string successor/predecessor games are
    // where pruning bugs live
    def tightenSLo(n: String, v: String): Unit =
      sLo += n -> sLo.get(n)
        .map(x => if (ColStat.utf8Cmp(v, x) > 0) v else x).getOrElse(v)
    def tightenSHi(n: String, v: String): Unit =
      sHi += n -> sHi.get(n)
        .map(x => if (ColStat.utf8Cmp(v, x) < 0) v else x).getOrElse(v)
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case EqualTo(c, v) if nameOf(c).isDefined && longOf(v).isDefined =>
        val (n, x) = (nameOf(c).get, longOf(v).get)
        lo += n -> math.max(lo(n), x); hi += n -> math.min(hi(n), x)
      case EqualTo(v, c) if nameOf(c).isDefined && longOf(v).isDefined =>
        val (n, x) = (nameOf(c).get, longOf(v).get)
        lo += n -> math.max(lo(n), x); hi += n -> math.min(hi(n), x)
      case GreaterThan(c, v) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; lo += n -> math.max(lo(n), longOf(v).get + 1)
      case GreaterThanOrEqual(c, v) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; lo += n -> math.max(lo(n), longOf(v).get)
      case LessThan(c, v) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; hi += n -> math.min(hi(n), longOf(v).get - 1)
      case LessThanOrEqual(c, v) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; hi += n -> math.min(hi(n), longOf(v).get)
      // flipped comparisons (literal on the left)
      case GreaterThan(v, c) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; hi += n -> math.min(hi(n), longOf(v).get - 1)
      case GreaterThanOrEqual(v, c) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; hi += n -> math.min(hi(n), longOf(v).get)
      case LessThan(v, c) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; lo += n -> math.max(lo(n), longOf(v).get + 1)
      case LessThanOrEqual(v, c) if nameOf(c).isDefined && longOf(v).isDefined =>
        val n = nameOf(c).get; lo += n -> math.max(lo(n), longOf(v).get)
      // string predicates: partition-entry pruning on the recorded
      // partition column, stats-range pruning on ANY string-statted column
      case EqualTo(c, v) if nameOf(c).isDefined && strOf(v).isDefined =>
        val (n, x) = (nameOf(c).get, strOf(v).get)
        if (partCol.contains(n)) narrowPart(Set(x))
        tightenSLo(n, x); tightenSHi(n, x)
      case EqualTo(v, c) if nameOf(c).isDefined && strOf(v).isDefined =>
        val (n, x) = (nameOf(c).get, strOf(v).get)
        if (partCol.contains(n)) narrowPart(Set(x))
        tightenSLo(n, x); tightenSHi(n, x)
      case GreaterThan(c, v) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSLo(nameOf(c).get, strOf(v).get)
      case GreaterThanOrEqual(c, v) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSLo(nameOf(c).get, strOf(v).get)
      case LessThan(c, v) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSHi(nameOf(c).get, strOf(v).get)
      case LessThanOrEqual(c, v) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSHi(nameOf(c).get, strOf(v).get)
      case GreaterThan(v, c) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSHi(nameOf(c).get, strOf(v).get)
      case GreaterThanOrEqual(v, c) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSHi(nameOf(c).get, strOf(v).get)
      case LessThan(v, c) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSLo(nameOf(c).get, strOf(v).get)
      case LessThanOrEqual(v, c) if nameOf(c).isDefined && strOf(v).isDefined =>
        tightenSLo(nameOf(c).get, strOf(v).get)
      case In(c, vs) if partCol.exists(nameOf(c).contains) &&
          vs.forall(strOf(_).isDefined) =>
        narrowPart(vs.flatMap(strOf).toSet)
      // double predicates: stats-range pruning on any double-statted
      // column (scores/prices — round-10 missing #3, format-read side)
      case EqualTo(c, v) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case EqualTo(v, c) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case GreaterThan(c, v) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
      case GreaterThanOrEqual(c, v) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
      case LessThan(c, v) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case LessThanOrEqual(c, v) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case GreaterThan(v, c) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case GreaterThanOrEqual(v, c) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDHi(nameOf(c).get, dblOf(v).get)
      case LessThan(v, c) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
      case LessThanOrEqual(v, c) if nameOf(c).isDefined && dblOf(v).isDefined =>
        tightenDLo(nameOf(c).get, dblOf(v).get)
      // decimal predicates: exact-numeric stats pruning (money columns)
      case EqualTo(c, v) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case EqualTo(v, c) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case GreaterThan(c, v) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
      case GreaterThanOrEqual(c, v) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
      case LessThan(c, v) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case LessThanOrEqual(c, v) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case GreaterThan(v, c) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case GreaterThanOrEqual(v, c) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCHi(decNameOf(c).get, decOf(v).get)
      case LessThan(v, c) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
      case LessThanOrEqual(v, c) if decNameOf(c).isDefined && decOf(v).isDefined =>
        tightenCLo(decNameOf(c).get, decOf(v).get)
      case _ => () // not provable at the file level: prune nothing
    }
    dataFilters.foreach(visit)
    entries.filter { case (p, f) =>
      parts.forall(_.contains(p)) && {
        val st = stats.getOrElse(f, Map.empty)
        (lo.keySet ++ hi.keySet).forall { c =>
          st.get(c) match {
            case Some(cs) => ColStat.overlapsLong(cs, lo(c), hi(c))
            case None => true // no stats for this column: must read
          }
        } &&
        (sLo.keySet ++ sHi.keySet).forall { c =>
          st.get(c) match {
            case Some(cs) => ColStat.overlapsStr(cs, sLo.get(c), sHi.get(c))
            case None => true
          }
        } &&
        (dLo.keySet ++ dHi.keySet).forall { c =>
          st.get(c) match {
            case Some(cs) => ColStat.overlapsDbl(cs,
              dLo.getOrElse(c, Double.NegativeInfinity),
              // no ceiling = NaN, the TOP of Spark's double order — an
              // all-NaN file must survive a lower-bounded-only probe
              dHi.getOrElse(c, Double.NaN))
            case None => true
          }
        } &&
        (cLo.keySet ++ cHi.keySet).forall { c =>
          st.get(c) match {
            case Some(cs) => ColStat.overlapsDec(cs, cLo.get(c), cHi.get(c))
            case None => true
          }
        }
      }
    }
  }
}

object SnapshotFileIndex {

  /** A parquet [[HadoopFsRelation]] over `files` (default: every live
    * file) of version `version`, read with `schema` — the scan both the
    * `graft-snapshot` source and [[SnapshotTable]]'s reads wrap in a
    * frame. The schema is made nullable throughout, as `spark.read
    * .schema(s)` does: a file staged before an add-column commit lacks
    * the column and reads it as NULL, so no column may claim non-null
    * to the optimizer. */
  def relation(spark: SparkSession, tableDir: String, version: Long,
      schema: StructType, files: Option[Seq[String]] = None)
      : HadoopFsRelation =
    HadoopFsRelation(
      location = new SnapshotFileIndex(spark, tableDir, version, files),
      partitionSchema = StructType(Nil),
      dataSchema = nullable(schema).asInstanceOf[StructType],
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
