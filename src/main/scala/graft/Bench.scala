package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // JVM/codegen warm-up so the first timed query doesn't absorb session
    // init, parquet footer caching and JIT cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => fn(spark, sfDir).count())
    // deterministic (sorted) execution order for cross-round comparability
    val names = SparkEntry.queries.toSeq.sortBy(_._1)

    // One full timed pass over the catalogue; failures are reported as -1
    // (never a tiny elapsed time that would make a broken query look fast)
    def timedPass(): Seq[(String, Double)] = names.zipWithIndex
      .map { case ((name, fn), i) =>
        // queries that persist()/localCheckpoint() intermediates would
        // otherwise leave their blocks cached for the REST of the run —
        // 343 queries of storage creep squeezing execution memory (the
        // round-10 verdict's lifecycle finding: clearCache alone missed
        // the RDD-layer checkpoint blocks); the periodic driver GC lets
        // ContextCleaner actually reclaim dropped broadcasts/blocks,
        // which only happens on a GC cycle
        graft.core.StorageHygiene.drainAll(spark)
        if (i % 25 == 24) System.gc()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }

    // Two timed passes (round-7 adjudicability fix): a one-shot record's
    // per-query readings proved to swing up to 17× under co-residency
    // noise, hiding real regressions. Round 8: the headline and every
    // reported total are computed over ONE query set — queries that
    // succeeded in BOTH passes — so a query that fails in exactly one
    // pass can never LOWER a total by being excluded from it (it counts
    // as failed instead). Headline = per-query MEDIAN-sum (with two
    // passes the median is the midpoint — minima flatter systematically);
    // per-query minima stay alongside for noise-floor comparisons, and
    // both raw passes stay re-derivable in bench_out.json.
    val pass1 = timedPass()
    val pass2 = timedPass()
    def timeIn(p: Seq[(String, Double)], name: String): Option[Double] =
      p.collectFirst { case (`name`, t) if t >= 0 => t }
    val bothOk: Set[String] = names.map(_._1)
      .filter(n => timeIn(pass1, n).isDefined && timeIn(pass2, n).isDefined)
      .toSet
    def perQuery(f: (Double, Double) => Double) = names.map { case (name, _) =>
      name -> (if (bothOk(name))
        f(timeIn(pass1, name).get, timeIn(pass2, name).get) else -1.0)
    }
    val minByName = perQuery(math.min)
    val medByName = perQuery((a, b) => (a + b) / 2.0)
    def totalOf(p: Seq[(String, Double)]) =
      p.collect { case (n, t) if t >= 0 && bothOk(n) => t }.sum
    val (t1, t2) = (totalOf(pass1), totalOf(pass2))
    val total = medByName.map(_._2).filter(_ >= 0).sum
    val failed = names.size - bothOk.size
    // warm-degradation gate (round-10 verdict #6): pass2 runs WARMED — a
    // query slower warmed than cold means storage/lifecycle leakage, not
    // plan cost. Ratio is only meaningful above the noise floor, so only
    // queries with a ≥0.3 s cold pass count toward the gate.
    val warmRatio = names.map { case (name, _) =>
      name -> (if (bothOk(name) && timeIn(pass1, name).get > 1e-9)
        timeIn(pass2, name).get / timeIn(pass1, name).get else -1.0)
    }
    val warmGt14 = names.count { case (name, _) =>
      bothOk(name) && timeIn(pass1, name).get >= 0.3 &&
        timeIn(pass2, name).get / timeIn(pass1, name).get > 1.4
    }
    // Per-query stdout contract (round-11 verdict item 2): the driver's
    // PERF builder needs per-query seconds on stdout, but its bounded
    // 2000-char tail truncated the one-line full map back in round 2
    // (BENCH_r02's parse failed mid-map). So: one SHORT self-contained
    // JSON line per query (~50 chars, parseable in isolation), then the
    // unchanged short total line LAST so the tail always retains it.
    def r3(v: Double) = math.round(v * 1000.0) / 1000.0
    medByName.foreach { case (name, sec) =>
      println(s"""{"metric":"q","name":"$name","sec":${r3(sec)}}""")
    }
    val shortJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${names.size},"failed":$failed,"warm_gt14":$warmGt14,"passes":[${r3(t1)},${r3(t2)}],"sf":"$sfDir"}"""
    println(shortJson)
    def qjson(p: Seq[(String, Double)]) =
      p.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":[$t1,$t2],""" +
        s""""queries":${qjson(medByName)},"queries_min":${qjson(minByName)},""" +
        s""""queries_pass1":${qjson(pass1)},""" +
        s""""queries_pass2":${qjson(pass2)},""" +
        s""""queries_warm_ratio":${qjson(warmRatio)},""" +
        s""""warm_gt14":$warmGt14,"sf":"$sfDir"}"""
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case NonFatal(e) => System.err.println(s"[bench] bench_out.json not written: $e")
    }
    spark.stop()
  }
}
