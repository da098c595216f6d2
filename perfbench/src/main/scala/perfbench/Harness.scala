package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Sessions
import graft.core.StorageHygiene

/** The benchmark's JVM side: one fresh JVM, one `Sessions.local()` session,
  * one driver thread running a closed loop with a single client: the next
  * operation starts only after the previous one has finished.
  *
  * It only calls the engine's public entry points and times them; inputs,
  * output checks and the metrics themselves are `run.py`'s. It writes
  * `result.json` (and `spans.jsonl` when traced) into the work directory.
  *
  * {{{
  * Harness --workload W --data DIR --work DIR --seed N --seconds S
  *         --trace 0|1 --cpus N
  * }}}
  */
object Harness {

  final case class Args(workload: String, data: String, work: Path, seed: Long,
      seconds: Double, trace: Boolean, cpus: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv("--workload"), kv("--data"), Paths.get(kv("--work")), kv("--seed").toLong,
      kv("--seconds").toDouble, kv("--trace") == "1", kv("--cpus").toInt)
  }

  /** Post-GC heap high-water mark, from the collectors' notifications. */
  object Heap {
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          import com.sun.management.{GarbageCollectionNotificationInfo => G}
          if (n.getType == G.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = G.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peakBytes) peakBytes = used
          }
        }, null, null)
      case _ =>
    }

    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    /** Heap in use right after a full collection. */
    def retainedBytes(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  /** Total bytes and top-level entries under `dir`. */
  def du(dir: Path): (Long, Set[String]) =
    if (!Files.exists(dir)) (0L, Set.empty)
    else {
      val st = Files.walk(dir)
      val bytes = try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum finally st.close()
      val ls = Files.list(dir)
      val top = try ls.iterator().asScala.map(_.getFileName.toString).toSet
        finally ls.close()
      (bytes, top)
    }

  /** Host CPU time so far, in clock ticks: (stolen by the hypervisor, all).
    * (0, 0) where the kernel does not report it. */
  def hostCpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .slice(1, 9).map(_.toLong)
      (f.lift(7).getOrElse(0L), f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads(a.workload)
    Heap.install()
    // fails the run before any timing when a query has no single layer, or
    // the workload names one the catalogue cannot serve
    val attribution = Layers.attribution()
    workload.check(attribution)

    val t0 = System.nanoTime()
    val spark = Sessions.local(a.cpus.toString)
    val initS = secondsSince(t0)

    val t1 = System.nanoTime()
    workload.warmUp(spark, a)
    val warmupS = secondsSince(t1)

    val t2 = System.nanoTime()
    val run = workload.prepare(spark, a, attribution)
    val prepS = secondsSince(t2)
    val setupDoneMs = System.currentTimeMillis()

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val ctx = new OpContext(spark, a, tracer, tmpRoot)
    val gc0 = Heap.gcMillis
    val root = tracer.map(_.open("workload", a.workload, -1))
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val cpu0 = hostCpuTicks()
    val tw = System.nanoTime()
    val ops = run.ops.zipWithIndex.map { case (op, i) =>
      if (System.nanoTime() > deadline) op.skipped(i)
      else ctx.run(i, op)
    }
    val wallS = secondsSince(tw)
    val cpu1 = hostCpuTicks()
    val stealFrac = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    for (t <- tracer; r <- root) t.close(r)
    val gcS = (Heap.gcMillis - gc0) / 1000.0
    val retained = Heap.retainedBytes()
    val result = Seq("workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_done_ms" -> setupDoneMs, "init_s" -> initS, "warmup_s" -> warmupS,
      "prep_s" -> prepS, "wall_s" -> wallS, "steal_frac" -> stealFrac, "gc_s" -> gcS,
      "heap_after_gc_mb" -> retained / 1048576.0,
      "heap_peak_mb" -> math.max(Heap.peakBytes, retained) / 1048576.0,
      "tmp_left_bytes" -> du(tmpRoot)._1, "ops" -> ops) ++ run.finish(ctx)
    tracer.foreach(_.write(a.work.resolve("spans.jsonl")))
    Files.writeString(a.work.resolve("result.json"), Json(mutable.LinkedHashMap(result: _*)))
    spark.stop()
  }

  /** Fixed warm-up, counted in set-up, on no query of the catalogue: a
    * first job and a parquet scan, aggregate and write of the generated
    * lineitem; with `joins`, also a three-table join with an aggregate,
    * window, checkpoint and sort, and a word count over `documents`.
    * Without the joins a catalogue run's first queries pay most of the JIT
    * and code-generation cost of the fresh JVM, by more than the rest of a
    * run varies. */
  def warmUp(spark: SparkSession, a: Args, joins: Boolean): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def t(name: String) = spark.read.parquet(s"${a.data}/$name.parquet")
    def out(name: String) = a.work.resolve("warmup").resolve(name).toString
    spark.range(1000000).selectExpr("sum(id)").collect()
    t("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(out("scan"))
    if (joins) {
      t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_custkey"), col("c_mktsegment"), col("l_returnflag"))
        .agg(sum(col("l_extendedprice")).as("rev"),
          countDistinct(col("l_partkey")).as("parts"), collect_set(col("l_linestatus")).as("st"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("o_custkey")).orderBy(col("rev").desc)))
        .withColumn("st", concat_ws("|", array_sort(col("st"))))
        .localCheckpoint(true)
        .orderBy(col("rev").desc)
        .write.mode("overwrite").parquet(out("join"))
      t("documents").select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out("words"))
      StorageHygiene.drainAll(spark)
    }
  }

  /** One operation of a workload's closed loop. */
  trait Op {
    def name: String
    def kind: String
    /** Run it, timed; fill `rec` with what the output check needs. */
    def apply(ctx: OpContext, i: Int, rec: mutable.Map[String, Any]): Unit
    /** Untimed look at what the operation did, after its latency is taken. */
    def observe(ctx: OpContext, rec: mutable.Map[String, Any]): Unit = ()
    def skipped(i: Int): Map[String, Any] =
      Map("op" -> i, "name" -> name, "kind" -> kind, "status" -> "skipped")
  }

  /** A workload's prepared run: its operations in run order, and what it
    * reports once the timed region is over. */
  trait Run {
    def ops: Seq[Op]
    def finish(ctx: OpContext): Seq[(String, Any)] = Nil
  }

  trait Workload {
    /** Fails the run when the catalogue cannot serve this workload. */
    def check(attribution: Map[String, Layers.Entry]): Unit = ()
    def prepare(spark: SparkSession, a: Args, attribution: Map[String, Layers.Entry]): Run
    /** The fixed warm-up, counted in set-up. */
    def warmUp(spark: SparkSession, a: Args): Unit = Harness.warmUp(spark, a, joins = true)
  }

  /** Times one operation, its phases, and (traced) its artifacts. */
  final class OpContext(val spark: SparkSession, val a: Args,
      val tracer: Option[Tracer], tmpRoot: Path) {
    private var rec: mutable.Map[String, Any] = _
    private var opIndex = -1
    def outDir(name: String): String = a.work.resolve("out").resolve(name).toString

    /** Time `body` as phase `name` of the current operation. */
    def phase[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try tracer.fold(body)(_.span("phase", name, opIndex)(body))
      finally rec(s"${name}_s") = rec.getOrElse(s"${name}_s", 0.0)
        .asInstanceOf[Double] + secondsSince(t)
    }

    def run(i: Int, op: Op): Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("op" -> i, "name" -> op.name,
        "kind" -> op.kind)
      this.rec = rec
      opIndex = i
      val before = if (tracer.isDefined) du(tmpRoot) else null
      val span = tracer.map(_.open("op", op.name, i))
      val t = System.nanoTime()
      def failed(e: Throwable): Unit = {
        rec("status") = "error"
        rec("error") = e.toString.take(500)
        System.err.println(s"[perfbench] ${op.name} failed: $e")
      }
      try {
        op(this, i, rec)
        rec("status") = "ok"
      } catch { case NonFatal(e) => failed(e) }
      rec("lat_s") = secondsSince(t)
      if (rec("status") == "ok")
        try op.observe(this, rec) catch { case NonFatal(e) => failed(e) }
      span.foreach { s =>
        tracer.get.close(s)
        tracer.get.settle(s)
        val after = du(tmpRoot)
        rec("art_dirs") = (after._2 -- before._2).size
        rec("art_bytes") = math.max(0L, after._1 - before._1)
      }
      rec.toMap
    }
  }

  // ------------------------------------------------------------ queries

  /** A registered catalogue query: build its plan, write every output
    * column in full, then drain the storage the query left cached. */
  final case class QueryOp(e: Layers.Entry, data: String) extends Op {
    def name: String = e.name
    def kind: String = "query"
    def apply(ctx: OpContext, i: Int, rec: mutable.Map[String, Any]): Unit = {
      rec ++= Seq("module" -> e.module, "layer" -> e.layer, "oracle" -> e.q.oracle,
        "out" -> ctx.outDir(e.name))
      try {
        val df: DataFrame = ctx.phase("build")(e.q.fn(ctx.spark, data))
        ctx.phase("exec")(df.write.mode("overwrite").parquet(ctx.outDir(e.name)))
      } finally ctx.phase("drain")(StorageHygiene.drainAll(ctx.spark))
    }
  }

  /** `catalogue_sweep`: a fixed list of registered queries, in run order.
    * Every layer of the catalogue is in it (each module in proportion to its
    * size at the time the list was fixed), and naming the queries keeps the
    * workload the same when queries are added to or removed from the
    * catalogue. The order is the same on every run: in a fresh JVM an
    * operation's latency depends on how much of the engine ran before it, so
    * a seed-dependent order would move the latency percentiles by more than
    * the noise. The seed varies the data instead. */
  object CatalogueSweep extends Workload {
    val queries: Seq[String] = Seq("ev_variant_extract", "ppi_edges", "ev_asof_join",
      "x_heavy_hitters", "x_budget_select", "x_dedup_minhash_lsh", "q22_dormant_customers",
      "x_ann_sq8", "g_harmonic", "j_overlap_native", "s_csv_permissive", "tfg_merged",
      "x_rand_proj", "x_l_diversity")

    override def check(attribution: Map[String, Layers.Entry]): Unit = {
      val missing = queries.filterNot(attribution.contains)
      val noOracle = queries.filter(n => attribution.get(n).exists(_.q.oracle.isEmpty))
      require(missing.isEmpty && noOracle.isEmpty, "catalogue_sweep: " +
        s"not registered=[${missing.mkString(", ")}] no oracle=[${noOracle.mkString(", ")}]")
    }

    def prepare(spark: SparkSession, a: Args,
        attribution: Map[String, Layers.Entry]): Run =
      new Run { val ops: Seq[Op] = queries.map(n => QueryOp(attribution(n), a.data)) }
  }

  val Workloads: Map[String, Workload] = Map(
    "catalogue_sweep" -> CatalogueSweep,
    "snapshot_churn" -> SnapshotChurn)
}
