package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

import Harness.{Args, Op, OpContext, Run, Workload}

/** Write-heavy closed loop on one [[SnapshotTable]].
  *
  * `run.py` writes the seeded plan, `plan.tsv` in the work directory: a
  * `base` line naming the parquet the table is loaded from, then one line
  * per operation. Writes are `upsert` and `append` (batches generated as
  * parquet), `delete` and `update` (row_id ranges), with periodic
  * `compact` and `vacuum`; reads are `read_range`, `read_at` and `changes`.
  * Every read writes its rows in full under `out/`, and the final version
  * is written out after the timed region, for the replay check. */
object SnapshotChurn extends Workload {
  val PartCol = "yr"
  val Key = "row_id"

  private def plan(a: Args) =
    Files.readAllLines(a.work.resolve("plan.tsv")).asScala.map(_.split("\t").toSeq)

  /** The scan and write warm-up, then every snapshot call once on a small
    * scratch table cut from the base: without it the timed operations pay
    * the JIT cost of each call's first use, about a quarter of the timed
    * region on a 4-vCPU machine. */
  override def warmUp(spark: SparkSession, a: Args): Unit = {
    Harness.warmUp(spark, a, joins = false)
    val dir = a.work.resolve("warmup")
    val t = dir.resolve("table").toString
    val rows = spark.read.parquet(plan(a).head(1)).filter(col(Key) < 2000)
    def range(lo: Long, hi: Long) = col(Key).between(lo, hi)
    SnapshotTable.overwriteClustered(spark, t, rows, PartCol, Seq(Key), 4)
    SnapshotTable.upsert(spark, t, rows.filter(col(Key) < 200)
      .withColumn("ver", col("ver") + 1), PartCol, Seq(Key), "ver", "del")
    SnapshotTable.append(spark, t, rows.filter(col(Key) < 100)
      .withColumn(Key, col(Key) + 10000))
    SnapshotTable.deleteWhere(spark, t, range(300, 400), PartCol, Some((Key, 300L, 400L)))
    SnapshotTable.updateWhere(spark, t, range(500, 700),
      Seq("ver" -> (col("ver") + 1), "l_linestatus" -> lit("U")), PartCol,
      Some((Key, 500L, 700L)))
    SnapshotTable.compactSmall(spark, t, PartCol, 4L << 20)
    val v = SnapshotTable.currentVersion(t)
    SnapshotTable.readRange(spark, t, Key, 0L, 1000L).filter(range(0, 1000))
      .write.parquet(dir.resolve("range").toString)
    SnapshotTable.readAt(spark, t, v - 2).filter(range(0, 1000))
      .write.parquet(dir.resolve("at").toString)
    SnapshotTable.changesBetween(spark, t, v - 3, v, Seq(Key))
      .write.parquet(dir.resolve("changes").toString)
    SnapshotTable.vacuum(t, 2)
  }

  def prepare(spark: SparkSession, a: Args, attribution: Map[String, Layers.Entry]): Run = {
    val lines = plan(a)
    val table = a.work.resolve("table").toString
    val Seq("base", basePath, rangeFiles) = lines.head
    SnapshotTable.overwriteClustered(spark, table, spark.read.parquet(basePath),
      PartCol, Seq(Key), rangeFiles.toInt)
    new Run {
      val ops: Seq[Op] = lines.tail.toSeq.map(l => ChurnOp(table, l.head, l.tail))
      override def finish(ctx: OpContext): Seq[(String, Any)] = {
        val v = SnapshotTable.currentVersion(table)
        SnapshotTable.read(ctx.spark, table).write.parquet(ctx.outDir("final"))
        val data = Paths.get(table, "data")
        val live = SnapshotTable.entriesAt(table, v).map(e => Files.size(data.resolve(e._2))).sum
        Seq("final_version" -> v, "final_out" -> ctx.outDir("final"),
          "table_bytes" -> Harness.du(Paths.get(table))._1, "live_bytes" -> live)
      }
    }
  }

  final case class ChurnOp(table: String, kind: String, args: Seq[String]) extends Op {
    def name: String = kind
    private var read: DataFrame = _

    private def range(i: Int) = col(Key).between(args(i).toLong, args(i + 1).toLong)
    private def prune(i: Int) = Some((Key, args(i).toLong, args(i + 1).toLong))

    def apply(ctx: OpContext, i: Int, rec: mutable.Map[String, Any]): Unit = {
      val s = ctx.spark
      val cur = SnapshotTable.currentVersion(table)
      rec("based_on") = cur
      def emit(df: DataFrame): Unit = {
        read = df
        rec("out") = ctx.outDir(s"op$i")
        df.write.parquet(ctx.outDir(s"op$i"))
      }
      ctx.phase(kind) {
        kind match {
          case "upsert" =>
            SnapshotTable.upsert(s, table, s.read.parquet(args(0)), PartCol, Seq(Key),
              "ver", "del")
          case "append" => SnapshotTable.append(s, table, s.read.parquet(args(0)))
          case "delete" =>
            SnapshotTable.deleteWhere(s, table, range(0), PartCol, prune(0))
          case "update" =>
            SnapshotTable.updateWhere(s, table, range(0),
              Seq("ver" -> (col("ver") + 1), "l_linestatus" -> lit("U")), PartCol, prune(0))
          case "compact" => SnapshotTable.compactSmall(s, table, PartCol, args(0).toLong)
          case "vacuum" => SnapshotTable.vacuum(table, args(0).toInt)
          case "read_range" =>
            emit(SnapshotTable.readRange(s, table, Key, args(0).toLong, args(1).toLong)
              .filter(range(0)))
          case "read_at" =>
            val v = cur - args(0).toLong
            rec("read_version") = v
            emit(SnapshotTable.readAt(s, table, v).filter(range(1)))
          case "changes" =>
            val from = cur - args(0).toLong
            rec("from_version") = from
            emit(SnapshotTable.changesBetween(s, table, from, cur, Seq(Key)))
        }
      }
    }

    override def observe(ctx: OpContext, rec: mutable.Map[String, Any]): Unit = {
      val v = SnapshotTable.currentVersion(table)
      rec("version") = v
      val files = SnapshotTable.entriesAt(table, v).map(_._2)
      rec("files") = files.size
      val basedOn = rec("based_on").asInstanceOf[Long]
      if (v > basedOn) {
        val before = SnapshotTable.entriesAt(table, basedOn).map(_._2).toSet
        rec("files_added") = files.count(f => !before(f))
        val manifest = Paths.get(table, f"manifest-$v%011d.txt")
        if (Files.exists(manifest)) rec("manifest_bytes") = Files.size(manifest)
      }
      if (read != null) rec("files_read") = read.inputFiles.length
      if (kind == "upsert" || kind == "append")
        rec("batch_bytes") = Files.size(Paths.get(args(0)))
    }
  }
}
