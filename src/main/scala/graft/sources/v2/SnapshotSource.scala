package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison, Cast, Expression, In, Literal}
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
import graft.sources.SnapshotTable.{ColRange, DblRange, DecRange, LongRange, StrRange}

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
  *    columns prune by manifest stats, through the same kernel as the
  *    Scala API's [[SnapshotTable.readRange]] family
  *    ([[SnapshotTable.keptFiles]]) — automatic file skipping for a plain
  *    `.filter(...)`/SQL WHERE,
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
    * `txnAppId` semantics); a CDC upsert stream calls
    * `SnapshotTable.upsert` from `foreachBatch` instead, so update mode
    * is refused loudly rather than half-supported. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot sink: 'path' (the table directory) is required"))
    require(outputMode == OutputMode.Append() ||
        outputMode == OutputMode.Complete(),
      "graft-snapshot sink supports append (transactional INSERT per " +
        "trigger) and complete (overwrite per trigger); for update-mode " +
        "CDC apply call SnapshotTable.upsert from foreachBatch")
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
    * registered query pin the pruning decisions directly. Four steps:
    * each provable comparison turns `literal op column` into `column op'
    * literal`; its literal's type picks a [[SnapshotTable.ColRange]]
    * kind (Int counts as LONG; a NaN literal proves nothing); the ranges
    * intersect per column; and [[SnapshotTable.keptFiles]], the one
    * pruning kernel, decides. Partition-column string `=` and `IN`
    * additionally narrow by manifest partition value. Anything
    * unrecognized prunes nothing. */
  def prune(dataFilters: Seq[Expression]): Seq[(String, String)] = {
    var parts: Option[Set[String]] = None
    def narrowPart(vs: Set[String]): Unit =
      parts = Some(parts.map(_.intersect(vs)).getOrElse(vs))
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def strOf(e: Expression): Option[String] = e match {
      case Literal(u: UTF8String, StringType) => Some(u.toString)
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
    // step 2: `column op x` as a range; `above`/`below` are the bounds a
    // strict comparison gives (x ± 1 for LONG, x itself for the
    // inclusive kinds)
    def range[T](op: String, x: T, above: T, below: T)(
        mk: (Option[T], Option[T]) => ColRange): ColRange = op match {
      case "=" => mk(Some(x), Some(x))
      case ">" => mk(Some(above), None)
      case ">=" => mk(Some(x), None)
      case "<" => mk(None, Some(below))
      case _ => mk(None, Some(x))
    }
    def rangeOf(c: Expression, op: String, lit: Literal)
        : Option[(String, ColRange)] = lit match {
      case Literal(x: Long, LongType) =>
        nameOf(c).map(_ -> range(op, x, x + 1, x - 1)(LongRange))
      case Literal(x: Int, IntegerType) => rangeOf(c, op, Literal(x.toLong))
      case Literal(u: UTF8String, StringType) =>
        val x = u.toString
        nameOf(c).map(_ -> range(op, x, x, x)(StrRange))
      case Literal(x: Double, DoubleType) if !x.isNaN =>
        nameOf(c).map(_ -> range(op, x, x, x)(DblRange))
      case Literal(d: Decimal, _: DecimalType) =>
        val x = d.toJavaBigDecimal
        decNameOf(c).map(_ -> range(op, x, x, x)(DecRange))
      case _ => None
    }
    def visit(e: Expression): Seq[(String, ColRange)] = e match {
      case And(l, r) => visit(l) ++ visit(r)
      case In(c, vs) if partCol.exists(nameOf(c).contains) &&
          vs.forall(strOf(_).isDefined) =>
        narrowPart(vs.flatMap(strOf).toSet); Nil
      case b: BinaryComparison
          if SnapshotFileIndex.flipped.contains(b.symbol) =>
        // step 1: the literal goes right
        val oriented = (b.left, b.right) match {
          case (c, l: Literal) => Some((c, b.symbol, l))
          case (l: Literal, c) =>
            Some((c, SnapshotFileIndex.flipped(b.symbol), l))
          case _ => None
        }
        oriented.toSeq.flatMap { case (c, op, lit) =>
          if (op == "=" && partCol.exists(nameOf(c).contains))
            strOf(lit).foreach(x => narrowPart(Set(x)))
          rangeOf(c, op, lit)
        }
      case _ => Nil // not provable at the file level: prune nothing
    }
    // step 3: one range per column; kinds that disagree on a column (no
    // well-typed plan has them) prove nothing about it
    val ranges = dataFilters.flatMap(visit).groupBy(_._1).collect {
      case (c, rs) if rs.map(_._2.getClass).distinct.size == 1 =>
        c -> rs.map(_._2).reduce(_ intersect _)
    }
    // step 4: the kernel, over the stats this index resolved
    val kept = SnapshotTable.keptFiles(entries.map(_._2), stats, ranges).toSet
    entries.filter { case (p, f) => parts.forall(_.contains(p)) && kept(f) }
  }
}

object SnapshotFileIndex {

  /** The comparisons [[SnapshotFileIndex.prune]] reads, each mapped to
    * itself with its sides swapped. */
  private val flipped =
    Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

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
