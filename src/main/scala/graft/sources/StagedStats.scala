package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType,
  LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.SnapshotTable.{ColStat, DblStat, DecStat, LongStat, StrStat}

/** The facts a snapshot manifest line needs about each staged file, recorded
  * by the write tasks themselves: Spark's file writer drives one task
  * tracker per write task ([[StagedStats.Task]]) and hands every task's
  * result to [[processStats]] on the driver, so the write job alone yields
  * every file's bytes, rows and stat-column bounds — the way Delta Lake
  * collects per-file statistics (`DeltaJobStatisticsTracker`).
  *
  * `statCols` are (name, ordinal in the written data row, type) of LONG,
  * STRING, DOUBLE or DECIMAL columns. Bounds follow the [[ColStat]] orders,
  * which are Spark's own min/max orders: LONG natural; DOUBLE with NaN above
  * +∞ and ±0.0 equal (a file holding a NaN records hi = NaN); STRING in
  * unsigned UTF-8 byte order; DECIMAL exact. A column with no non-null value
  * in a file records no bound, so the file is always read.
  *
  * Files are keyed `<partition dir>/<file name>`, the last two components of
  * the task's temporary path: the job commit moves each file under the
  * output directory with both unchanged. */
private[sources] final class StagedStats(
    statCols: Seq[(String, Int, DataType)], conf: SerializableConfiguration)
    extends WriteJobStatsTracker {

  /** The files of the finished write, by key; filled on the driver. */
  @transient private[sources] var files = Map.empty[String, StagedStats.File]

  override def newTaskInstance(): WriteTaskStatsTracker =
    new StagedStats.Task(statCols, conf.value)

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    files = stats.iterator.collect { case StagedStats.Files(fs) => fs }
      .flatten.toMap
}

private[sources] object StagedStats {
  final case class File(bytes: Long, rows: Long, stats: Map[String, ColStat])
  private final case class Files(files: Seq[(String, File)])
      extends WriteTaskStats

  private final class Task(statCols: Seq[(String, Int, DataType)],
      conf: Configuration) extends WriteTaskStatsTracker {
    private val open = mutable.HashMap.empty[String, Acc]
    private val done = mutable.ArrayBuffer.empty[(String, File)]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      open(filePath) = new Acc(statCols)
    override def newRow(filePath: String, row: InternalRow): Unit =
      open(filePath).add(row)
    // the writer has closed the file: its length is final
    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { acc =>
        val p = new Path(filePath)
        val bytes = p.getFileSystem(conf).getFileStatus(p).getLen
        done += s"${p.getParent.getName}/${p.getName}" ->
          File(bytes, acc.rows, acc.stats)
      }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      Files(done.toSeq)
  }

  /** One open file's row count and per-column bounds. */
  private final class Acc(statCols: Seq[(String, Int, DataType)]) {
    var rows = 0L
    private val bounds = statCols.map { case (c, i, t) => c -> new Bound(i, t) }
    def add(row: InternalRow): Unit = {
      rows += 1
      bounds.foreach(_._2.add(row))
    }
    def stats: Map[String, ColStat] =
      bounds.flatMap { case (c, b) => b.stat.map(c -> _) }.toMap
  }

  /** Min/max of one column. The writer reuses row buffers, so a kept
    * string (or decimal) is copied out of the row. */
  private final class Bound(ordinal: Int, t: DataType) {
    private var lo: Any = null
    private var hi: Any = null
    private val get: InternalRow => Any = t match {
      case LongType => _.getLong(ordinal)
      case DoubleType => _.getDouble(ordinal)
      case StringType => _.getUTF8String(ordinal)
      case d: DecimalType => _.getDecimal(ordinal, d.precision, d.scale)
    }
    private val cmp: (Any, Any) => Int = t match {
      case LongType => (a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case DoubleType => (a, b) =>
        val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
        if (x == y) 0 else java.lang.Double.compare(x, y)
      case StringType => (a, b) =>
        a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
      case _ => (a, b) => a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
    }
    private def kept(v: Any): Any = v match {
      case s: UTF8String => s.copy()
      case d: Decimal => d.clone()
      case other => other
    }
    def add(row: InternalRow): Unit = if (!row.isNullAt(ordinal)) {
      val v = get(row)
      if (lo == null) { lo = kept(v); hi = lo }
      else if (cmp(v, lo) < 0) lo = kept(v)
      else if (cmp(v, hi) > 0) hi = kept(v)
    }
    def stat: Option[ColStat] = Option(lo).map { _ =>
      (lo, hi) match {
        case (a: Long, b: Long) => LongStat(a, b)
        case (a: Double, b: Double) => DblStat(a, b)
        case (a: UTF8String, b: UTF8String) => StrStat(a.toString, b.toString)
        case (a: Decimal, b: Decimal) =>
          DecStat(a.toJavaBigDecimal, b.toJavaBigDecimal)
        case other => sys.error(s"unexpected bounds $other")
      }
    }
  }
}
